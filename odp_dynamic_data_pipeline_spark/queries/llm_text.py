"""Text-analysis, quality, sampling, reporting, and multimodal queries
over the documents/embeddings testdata.  Split from queries/llm.py in
r13 (size only; no behavior change).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from odp_dynamic_data_pipeline_spark.operators import multimodal as mm
from odp_dynamic_data_pipeline_spark.operators import text as tx
from odp_dynamic_data_pipeline_spark.queries import register
from odp_dynamic_data_pipeline_spark.sources.catalog import load_table


@register(
    "token_count_stats",
    """
WITH t AS (SELECT doc_id, n_chars, regexp_extract_all(text, '\\S+') AS toks FROM documents)
SELECT doc_id,
       n_chars,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       CAST(len(list_distinct(toks)) AS INTEGER) AS n_unique_tokens,
       COALESCE(CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT), 0) AS sum_token_len
FROM t
""",
)
def token_count_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer, JVM regexp -- no Python)."""
    docs = tx.token_stats(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", "n_chars", "n_tokens", "n_unique_tokens", "sum_token_len")



@register(
    "quality_score",
    """
WITH t AS (SELECT doc_id, n_chars, regexp_extract_all(text, '\\S+') AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       CAST(len(list_filter(toks, x -> list_contains(['the','and','of','a','to'], x))) AS INTEGER) AS n_stopwords,
       (1000000 * CAST(len(list_distinct(toks)) AS BIGINT)) // CAST(len(toks) AS BIGINT) AS unique_ratio_e6,
       (1000000 * CAST(len(list_filter(toks, x -> list_contains(['the','and','of','a','to'], x))) AS BIGINT))
         // CAST(len(toks) AS BIGINT) AS stopword_ratio_e6
FROM t WHERE len(toks) > 0
""",
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality features: token counts, stopword/unique ratios as
    exact integer parts-per-million."""
    docs = tx.quality_features(load_table(spark, sf_dir, "documents")).where(F.col("n_tokens") > 0)
    return docs.select(
        "doc_id",
        "n_tokens",
        "n_stopwords",
        F.expr("(1000000 * CAST(n_unique_tokens AS BIGINT)) div CAST(n_tokens AS BIGINT)").alias(
            "unique_ratio_e6"
        ),
        F.expr("(1000000 * CAST(n_stopwords AS BIGINT)) div CAST(n_tokens AS BIGINT)").alias(
            "stopword_ratio_e6"
        ),
    )



@register(
    "lang_id_pred",
    """
WITH t AS (SELECT doc_id, lang, regexp_extract_all(text, '\\S+') AS toks FROM documents),
s AS (
  SELECT doc_id, lang,
    len(list_filter(toks, x -> list_contains(['the','and','of','a','to'], x))) AS s_en,
    len(list_filter(toks, x -> list_contains(['le','la','et','les','des'], x))) AS s_fr,
    len(list_filter(toks, x -> list_contains(['el','los','que','de','y'], x))) AS s_es,
    len(list_filter(toks, x -> list_contains(['der','und','die','das','ein'], x))) AS s_de,
    len(list_filter(toks, x -> list_contains(['de5','shi4','le5','zai4','he2'], x))) AS s_zh
  FROM t
)
SELECT doc_id, lang,
  CASE WHEN s_en >= greatest(s_fr, s_es, s_de, s_zh) THEN 'en'
       WHEN s_fr >= greatest(s_es, s_de, s_zh) THEN 'fr'
       WHEN s_es >= greatest(s_de, s_zh) THEN 'es'
       WHEN s_de >= s_zh THEN 'de'
       ELSE 'zh' END AS pred_lang
FROM s
""",
)
def lang_id_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (earliest language attaining the max
    score wins -- matches operators.text.language_id's fold)."""
    docs = tx.language_id(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", "lang", "pred_lang")



@register(
    "multimodal_meta",
    """
SELECT doc_id,
       octet_length(encode(text)) AS payload_bytes,
       md5(text) AS payload_md5,
       (octet_length(encode(text)) + 255) // 256 AS n_chunks
FROM documents
""",
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing: opaque payload + typed metadata;
    byte lengths and chunk counts computed without decoding."""
    docs = mm.attach_payload(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.octet_length("text").cast("long").alias("payload_bytes"),
        F.md5("text").alias("payload_md5"),
        F.expr("(CAST(octet_length(text) AS BIGINT) + 255) div 256").alias("n_chunks"),
    )



@register(
    "multimodal_frame_sample",
    """
WITH d AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS nb FROM documents),
c AS (SELECT doc_id, nb,
             unnest(generate_series(0, (nb + 255) // 256 - 1, 4)) AS fi
      FROM d)
SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
       LEAST(256, nb - fi * 256) AS frame_bytes
FROM c
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling fan-out (one payload -> many frame rows via
    mapInPandas); the oracle reconstructs chunk geometry arithmetically, so
    the Arrow-batched fan-out itself is correctness-gated."""
    docs = mm.attach_payload(load_table(spark, sf_dir, "documents"))
    frames = mm.frame_sample(docs)
    return frames.select(
        "doc_id", "frame_idx", F.length("frame").cast("long").alias("frame_bytes")
    )



@register(
    "multimodal_features",
    """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
       CAST(list_sum(list_transform(range(1, CAST(length(text) AS BIGINT) + 1),
                                    i -> ord(substr(text, CAST(i AS INT), 1))))
            % 2147483648 AS BIGINT) AS feat_checksum
FROM documents
""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads (decode
    stubbed; deterministic byte-sum checksum exercises the real batch
    path).  Oracle recomputes the checksum from character codes -- valid
    because the synthetic payload is ASCII (utf-8 bytes == char ords)."""
    docs = mm.attach_payload(load_table(spark, sf_dir, "documents"))
    return mm.extract_features(docs)



def _resize_oracle() -> str:
    """DuckDB replay of resize_image over the SYNTHETIC payload: the PPM
    raster is a closed form of doc_id (pixel p = (p * (doc_id%251+1)) % 256,
    operators.multimodal.attach_synth_media), so the whole
    encode -> header-parse -> box-mean -> integer-mean chain reduces to
    arithmetic on (doc_id, output-pixel index).  o in [0, 24) encodes
    (oy = o//12, ox = (o%12)//3, ch = o%3); each output pixel is the
    floor-mean of its 2x2 input box."""

    def px(r: str, c: str, ch: str) -> str:
        return f"((({r}) * 24 + ({c}) * 3 + ({ch})) * k) % 256"

    term = " + ".join(
        px(f"(o // 12) * 2 + {dr}", f"((o % 12) // 3) * 2 + {dc}", "o % 3")
        for dr in (0, 1)
        for dc in (0, 1)
    )
    return f"""
WITH ids AS (
  SELECT doc_id, doc_id % 251 + 1 AS k FROM documents
  WHERE doc_id < 200 AND doc_id % 2 = 1
)
SELECT doc_id,
       CAST(8 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
       CAST(4 AS INTEGER) AS out_w, CAST(2 AS INTEGER) AS out_h,
       CAST((1000000 * CAST(list_sum(list_transform(range(0, 24),
              o -> ({term}) // 4)) AS BIGINT)) // (255 * 4 * 2 * 3) AS BIGINT)
         AS mean_level_e6
FROM ids
ORDER BY doc_id
"""



@register("multimodal_resize", _resize_oracle())
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize stage (operators.multimodal.resize_image): synthesize
    real PPM payloads for the image-typed docs, box-mean downsample 8x4 ->
    4x2, return exact integer per-doc features.  The synthetic raster is a
    closed form of doc_id, so the DuckDB oracle replays the full
    synthesize -> decode -> box-mean chain as integer arithmetic (it was
    rows-only until r5); the numpy value-asserts in
    tests/test_multimodal_decode.py stay as the independent reference."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id").where(
        (F.col("doc_id") < 200) & (F.col("doc_id") % 2 == 1)  # odd ids = images
    )
    media = mm.attach_synth_media(docs)
    return (
        mm.resize_image(media, out_w=4, out_h=2)
        .select("doc_id", "width", "height", "out_w", "out_h", "mean_level_e6")
        .orderBy("doc_id")
    )



REAL_DECODE_ORACLE = """
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 200),
img AS (
  SELECT doc_id,
         list_transform(range(0, 96),
           p -> CAST((p * (doc_id % 251 + 1)) % 256 AS DOUBLE) / 255.0) AS x
  FROM ids WHERE doc_id % 2 = 1
),
imgf AS (
  SELECT doc_id, CAST(32 AS BIGINT) AS n_samples,
         sqrt(list_sum(list_transform(x, v -> v * v)) / 96.0) AS rms,
         list_sum(x) / 96.0 AS mean_level
  FROM img
),
aud AS (
  SELECT doc_id,
         list_transform(range(0, 400),
           n -> trunc(0.5 * sin(2 * pi() * (200.0 + CAST(doc_id % 20 AS DOUBLE) * 50.0)
                                * (CAST(n AS DOUBLE) / 8000.0)) * 32767.0) / 32768.0) AS x
  FROM ids WHERE doc_id % 2 = 0
),
audf AS (
  SELECT doc_id, CAST(400 AS BIGINT) AS n_samples,
         sqrt(list_sum(list_transform(x, v -> v * v)) / 400.0) AS rms,
         list_sum(x) / 400.0 AS mean_level
  FROM aud
),
feats AS (
  SELECT 'image' AS media_type, n_samples, rms, mean_level FROM imgf
  UNION ALL
  SELECT 'audio', n_samples, rms, mean_level FROM audf
)
SELECT media_type, COUNT(*) AS n_docs,
       CAST(SUM(n_samples) AS BIGINT) AS total_samples,
       ROUND(AVG(rms), 4) AS avg_rms,
       ROUND(AVG(mean_level), 4) AS avg_mean_level
FROM feats GROUP BY media_type ORDER BY media_type
"""



@register("multimodal_real_decode", REAL_DECODE_ORACLE)
def multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode (operators.multimodal._decode_payload): synthesize
    actual WAV PCM16 / PPM P6 payloads per document, decode them pure-numpy
    in mapInPandas, aggregate per media type.

    Oracle-gated since r5: the synthetic payloads are closed forms of
    doc_id, so DuckDB replays synth -> RIFF/PPM decode -> feature math as
    arithmetic -- PCM16 samples are trunc(0.5*sin(theta)*32767)/32768
    (dyadic-exact partial sums, so summation order cannot bite) and image
    levels are ((p*k)%256)/255.  The only cross-engine float risk is a
    last-ulp sin() difference flipping a trunc boundary, absorbed by the
    round(.,4) on the per-type averages; the numpy value-asserts in
    tests/test_multimodal_decode.py remain the independent reference."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") < 200  # deterministic subset, not an unordered LIMIT
    )
    media = mm.attach_synth_media(docs)
    feats = mm.extract_features(media, fake=False)
    return (
        feats.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_samples").cast("long").alias("total_samples"),
            F.round(F.avg("rms"), 4).alias("avg_rms"),
            F.round(F.avg("mean_level"), 4).alias("avg_mean_level"),
        )
        .orderBy("media_type")
    )



@register(
    "doc_chunks",
    """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
),
st AS (
  SELECT doc_id, t,
         UNNEST(generate_series(1, least(greatest(len(t) - 64 + 48, 1), greatest(len(t), 1)), 48)) AS i
  FROM toks
)
SELECT doc_id, (i - 1) // 48 AS chunk_id,
       array_to_string(list_slice(t, i, i + 63), ' ') AS chunk_text,
       CAST(len(list_slice(t, i, i + 63)) AS INT) AS n_chunk_tokens
FROM st
""",
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token windows, stride 48) --
    the shard-preparation step before tokenization in an LLM data
    pipeline.  Map-only: sequence + slice array arithmetic, no shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = tx.chunk_documents(docs, chunk_tokens=64, stride=48)
    return out.select(
        "doc_id", "chunk_id", "chunk_text", F.col("n_chunk_tokens").cast("int").alias("n_chunk_tokens")
    )



@register(
    "pii_scrub_fingerprint",
    """
WITH s AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
           '\\+?[0-9][0-9() .-]{7,}[0-9]', '[PHONE]', 'g') AS scrubbed
  FROM documents
)
SELECT doc_id, md5(scrubbed) AS scrub_md5,
       CAST(octet_length(encode(scrubbed)) AS BIGINT) AS scrub_bytes
FROM s
""",
)
def pii_scrub_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (emails/phone-shaped digit runs -> placeholders)
    verified cross-engine by fingerprinting the scrubbed text.  JVM
    regexp_replace, map-only."""
    docs = tx.scrub_pii(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.md5("scrubbed").alias("scrub_md5"),
        F.octet_length("scrubbed").cast("long").alias("scrub_bytes"),
    )



@register(
    "repetition_quality",
    """
WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents),
grams AS (
  SELECT doc_id, array_to_string(list_slice(t, i, i + 1), ' ') AS gram
  FROM (SELECT doc_id, t, UNNEST(generate_series(1, greatest(len(t) - 1, 0))) AS i FROM toks)
),
per AS (SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_2grams,
       COUNT(*) AS distinct_2grams,
       MAX(c) AS top_2gram_count,
       CAST((1000000 * MAX(c)) // SUM(c) AS BIGINT) AS top_2gram_frac_e6
FROM per GROUP BY doc_id
""",
)
def repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality features (Gopher filter family): per
    document, total / distinct 2-gram counts and the share of the single
    most-repeated 2-gram.  High top-2-gram fraction flags boilerplate and
    degenerate repetition.  One shuffle keyed (doc_id, gram), partial map-
    side aggregation collapses repeats before it."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    per = (
        tx.repetition_grams(docs, "text", n=2)
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return per.groupBy("doc_id").agg(
        F.sum("c").alias("n_2grams"),
        F.count(F.lit(1)).alias("distinct_2grams"),
        F.max("c").alias("top_2gram_count"),
        F.expr("(1000000 * max(c)) div sum(c)").alias("top_2gram_frac_e6"),
    )



@register(
    "stratified_sample_langs",
    """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
      CASE lang WHEN 'en' THEN '4' WHEN 'fr' THEN '8' WHEN 'es' THEN '8'
                WHEN 'de' THEN 'c' WHEN 'zh' THEN 'g' ELSE '0' END
""",
)
def stratified_sample_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture re-weighting (operators.text.stratified_sample):
    deterministic per-language keep rates (en 4/16, fr/es 8/16, de 12/16,
    zh 16/16) via an md5 hex gate on the stable id -- a pure map-side
    filter reproducible on any engine; no rand(), no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    out = tx.stratified_sample(
        docs, "lang", {"en": 4, "fr": 8, "es": 8, "de": 12, "zh": 16}
    )
    return out.select("doc_id", "lang", "source", "n_chars")



@register(
    "multimodal_audio_segments",
    """
WITH p AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
s AS (
  SELECT doc_id,
         UNNEST(generate_series(1, greatest(CAST(ceil((octet_length(encode(text)) - 8000) / 6000.0) AS INT) + 1, 1))) AS i,
         text
  FROM p
)
SELECT doc_id, (i - 1) AS seg_idx,
       CAST((i - 1) * 750 AS BIGINT) AS seg_start_ms,
       md5(substring(text, (i - 1) * 6000 + 1, 8000)) AS seg_md5,
       CAST(octet_length(encode(substring(text, (i - 1) * 6000 + 1, 8000))) AS INT) AS seg_len
FROM s
""",
)
def multimodal_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio segmentation plumbing (operators.multimodal.audio_segments)
    verified by fingerprinting each byte window -- the synthetic payload is
    the text's utf-8 bytes, so DuckDB reproduces the windows with encode +
    substring arithmetic."""
    docs = mm.attach_payload(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    )
    seg = mm.audio_segments(docs)
    return seg.select(
        "doc_id", "seg_idx", "seg_start_ms",
        F.md5(F.col("seg_bytes").cast("string")).alias("seg_md5"),
        "seg_len",
    )



@register(
    "pack_sequences_manifest",
    """
WITH toks AS (
  SELECT lang, doc_id, CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
  FROM documents
),
o AS (
  SELECT lang, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS global_offset
  FROM toks
)
SELECT lang, doc_id, n_tokens, CAST(global_offset AS BIGINT) AS global_offset,
       CAST(global_offset // 256 AS BIGINT) AS seq_id,
       CAST(global_offset % 256 AS BIGINT) AS seq_offset,
       CAST((global_offset % 256 + n_tokens + 255) // 256 AS BIGINT) AS n_seqs_spanned
FROM o
""",
)
def pack_sequences_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-cut training-sequence packing (operators.text.
    pack_sequences): documents laid end to end per language and cut every
    256 tokens; emits the placement manifest a distributed tokenizer
    consumes.  One window cumsum per language partition -- no global sort."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "doc_id", "text")
    return tx.pack_sequences(docs, seq_tokens=256)



@register(
    "boilerplate_scrub_stats",
    """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
),
blocks AS (
  SELECT * FROM (
    SELECT doc_id, CAST((i - 1) // 4 AS INT) AS block_idx,
           array_to_string(list_slice(t, i, i + 3), ' ') AS block
    FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t), 1), 4)) AS i
          FROM toks))
  WHERE block <> ''
),
freq AS (
  SELECT md5(block) AS bh, COUNT(DISTINCT doc_id) AS block_df FROM blocks GROUP BY 1
),
tagged AS (
  SELECT b.doc_id, b.block_idx, b.block, f.block_df
  FROM blocks b JOIN freq f ON md5(b.block) = f.bh
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN block_df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       md5(COALESCE(string_agg(CASE WHEN block_df < 3 THEN block END, ' '
                               ORDER BY block_idx), '')) AS clean_md5
FROM tagged GROUP BY doc_id
""",
)
def boilerplate_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-internal repeated-block scrub (operators.text.
    boilerplate_scrub): 4-token blocks occurring in >= 3 distinct documents
    are boilerplate and removed; result keyed by the md5 of the cleaned
    text so the full reassembly (order-correct re-join) is hash-gated."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = tx.boilerplate_scrub(docs, block_tokens=4, min_docs=3)
    return out.select(
        "doc_id",
        F.col("n_blocks").cast("long").alias("n_blocks"),
        F.col("n_dropped").cast("long").alias("n_dropped"),
        F.md5("clean_text").alias("clean_md5"),
    )



@register(
    "token_surprisal_scores",
    """
WITH toks AS (
  SELECT doc_id, UNNEST(regexp_extract_all(text, '\\S+')) AS tok FROM documents
),
freq AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
total AS (SELECT CAST(SUM(tf) AS BIGINT) AS n FROM freq),
scored AS (
  SELECT t.doc_id, length(format('{:b}', n // tf)) AS bits
  FROM toks t JOIN freq f ON f.tok = t.tok, total
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(bits) AS BIGINT) AS surprisal_bits,
       (1000 * CAST(SUM(bits) AS BIGINT)) // COUNT(*) AS mean_surprisal_e3
FROM scored GROUP BY doc_id
""",
)
def token_surprisal_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram surprisal quality score (operators.text.unigram_surprisal):
    integer bits(N/tf) per token summed per document -- the perplexity
    proxy that stays bit-identical across engines because it counts
    binary digits instead of calling log()."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.unigram_surprisal(docs)



@register(
    "corpus_mixture_weights",
    """
WITH counts AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
),
w AS (
  SELECT lang, n_docs, n_tokens,
         CAST(floor(sqrt(CAST(n_docs * 1000000 AS DOUBLE))) AS BIGINT) AS weight_e3
  FROM counts
),
t AS (SELECT CAST(SUM(weight_e3) AS BIGINT) AS w_total, CAST(SUM(n_docs) AS BIGINT) AS d_total FROM w)
SELECT lang, n_docs, n_tokens, weight_e3,
       (1000000 * weight_e3) // w_total AS share_e6,
       ((1000000 * weight_e3) // w_total) * d_total // n_docs AS oversample_e6
FROM w, t
""",
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-resampled corpus mixture weights
    (operators.text.mixture_weights, alpha = 0.5): sqrt-scaled per-language
    sampling shares, integer-exact across engines (floor(sqrt(n*1e6))
    milli-weights, bigint normalization -- no pow(), no double sums)."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    return tx.mixture_weights(docs, group_col="lang")



@register(
    "filter_ablation_report",
    r"""
WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
base AS (
  SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_uniq FROM toks
),
grams AS (
  SELECT doc_id, array_to_string(list_slice(t, i, i + 1), ' ') AS gram
  FROM (SELECT doc_id, t, UNNEST(generate_series(1, greatest(len(t) - 1, 0))) AS i FROM toks)
),
per AS (SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram),
rep AS (SELECT doc_id, (1000000 * MAX(c)) // SUM(c) AS top2_e6 FROM per GROUP BY doc_id),
flags AS (
  SELECT b.doc_id,
         CASE WHEN b.n_tokens < 20 THEN 1 ELSE 0 END
       + CASE WHEN COALESCE(r.top2_e6, 0) >= 200000 THEN 2 ELSE 0 END
       + CASE WHEN 1000000 * b.n_uniq < 300000 * b.n_tokens THEN 4 ELSE 0 END AS mask
  FROM base b LEFT JOIN rep r USING (doc_id)
)
SELECT CAST(mask AS BIGINT) AS mask,
       CAST(mask % 2 AS BIGINT) AS r_short,
       CAST((mask // 2) % 2 AS BIGINT) AS r_repetitive,
       CAST((mask // 4) % 2 AS BIGINT) AS r_low_diversity,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM flags GROUP BY mask
""",
)
def filter_ablation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-rule ablation: every document tagged with the bitmask of the
    quality rules it fails (short / repetitive / low lexical diversity),
    rolled up to counts per failure combination -- the report that shows
    which rules overlap, which reject uniquely (mask = a single bit), and
    what a rule's removal would re-admit, WITHOUT re-running the corpus
    per ablation arm.

    The token-stat legs are map-only; the repetition leg reuses the one
    (doc_id, gram) shuffle; the rollup groups on an 8-value key."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.select(
        "doc_id",
        F.expr(r"size(regexp_extract_all(text, r'\S+', 0))").alias("n_tokens"),
        F.expr(r"size(array_distinct(regexp_extract_all(text, r'\S+', 0)))").alias("n_uniq"),
    )
    per = (
        tx.repetition_grams(docs, "text", n=2)
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rep = per.groupBy("doc_id").agg(F.expr("(1000000 * max(c)) div sum(c)").alias("top2_e6"))
    flags = base.join(rep, "doc_id", "left").select(
        (
            F.when(F.col("n_tokens") < 20, 1).otherwise(0)
            + F.when(F.coalesce(F.col("top2_e6"), F.lit(0)) >= 200000, 2).otherwise(0)
            + F.when(
                F.lit(1000000) * F.col("n_uniq") < F.lit(300000) * F.col("n_tokens"), 4
            ).otherwise(0)
        ).alias("mask")
    )
    return flags.groupBy("mask").agg(F.count(F.lit(1)).cast("long").alias("n_docs")).select(
        F.col("mask").cast("long").alias("mask"),
        F.expr("CAST(mask % 2 AS BIGINT)").alias("r_short"),
        F.expr("CAST((mask div 2) % 2 AS BIGINT)").alias("r_repetitive"),
        F.expr("CAST((mask div 4) % 2 AS BIGINT)").alias("r_low_diversity"),
        "n_docs",
    )



@register(
    "quality_signal_correlation",
    r"""
WITH toks AS (
  SELECT doc_id, UNNEST(regexp_extract_all(text, '\S+')) AS tok FROM documents
),
freq AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
total AS (SELECT CAST(SUM(tf) AS BIGINT) AS n FROM freq),
scored AS (
  SELECT t.doc_id, length(format('{:b}', n // tf)) AS bits
  FROM toks t JOIN freq f ON f.tok = t.tok, total
),
sx AS (SELECT doc_id, (1000 * CAST(SUM(bits) AS BIGINT)) // COUNT(*) AS x
       FROM scored GROUP BY doc_id),
tarr AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
grams AS (
  SELECT doc_id, array_to_string(list_slice(t, i, i + 1), ' ') AS gram
  FROM (SELECT doc_id, t, UNNEST(generate_series(1, greatest(len(t) - 1, 0))) AS i FROM tarr)
),
per AS (SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram),
sy AS (SELECT doc_id, (1000000 * MAX(c)) // SUM(c) AS y FROM per GROUP BY doc_id),
j AS (SELECT CAST(sx.x AS BIGINT) AS x, CAST(sy.y AS BIGINT) AS y FROM sx JOIN sy USING (doc_id)),
a AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx1, CAST(SUM(y) AS BIGINT) AS sy1,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
  FROM j
)
SELECT CAST(n AS BIGINT) AS n_docs,
       (sx1 // n) AS mean_surprisal_e3,
       (sy1 // n) AS mean_top2gram_e6,
       ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)) - (CAST(sx1 AS DOUBLE) * CAST(sy1 AS DOUBLE)))
         / (sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)) - (CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE)))
            * sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)) - (CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE)))) AS pearson
FROM a
""",
)
def quality_signal_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do the quality filters agree?  Exact-moment Pearson correlation
    between per-doc unigram surprisal (mean_surprisal_e3) and Gopher-style
    repetition (top-2-gram fraction ppm) -- the calibration report that
    decides whether two filters are redundant or complementary before
    spending a 100 TB pass on both.

    All five moments are exact integer sums (decimal accumulators); the
    only doubles are the final deterministic IEEE expression, so the
    result does not depend on accumulation order -- applied across two
    signal pipelines joined per document."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    x = tx.unigram_surprisal(docs).select("doc_id", F.col("mean_surprisal_e3").alias("x"))
    per = (
        tx.repetition_grams(docs, "text", n=2)
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    y = per.groupBy("doc_id").agg(
        F.expr("(1000000 * max(c)) div sum(c)").alias("y")
    )
    j = x.join(y, "doc_id").select("x", "y")
    a = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).cast("long").alias("sx1"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("long").alias("sy1"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).cast("long").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).cast("long").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).cast("long").alias("syy"),
    )
    return a.select(
        F.col("n").cast("long").alias("n_docs"),
        F.expr("sx1 div n").alias("mean_surprisal_e3"),
        F.expr("sy1 div n").alias("mean_top2gram_e6"),
        F.expr(
            "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)) - (CAST(sx1 AS DOUBLE) * CAST(sy1 AS DOUBLE)))"
            " / (sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)) - (CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE)))"
            " * sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)) - (CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE))))"
        ).alias("pearson"),
    )



@register(
    "token_budget_allocation",
    r"""
WITH counts AS (
  SELECT lang, CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
),
w AS (
  SELECT lang, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens * 1000000 AS DOUBLE))) AS BIGINT) AS weight_e3
  FROM counts
),
t AS (SELECT CAST(SUM(weight_e3) AS BIGINT) AS w_total FROM w),
based AS (
  SELECT lang, n_tokens, weight_e3,
         CAST((10000000 * CAST(weight_e3 AS HUGEINT)) // greatest(w_total, 1) AS BIGINT) AS base_tokens,
         CAST((10000000 * CAST(weight_e3 AS HUGEINT)) % greatest(w_total, 1) AS BIGINT) AS rem
  FROM w, t
),
lt AS (SELECT 10000000 - CAST(SUM(base_tokens) AS BIGINT) AS leftover FROM based),
rk AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rnk FROM based
)
SELECT lang, n_tokens, weight_e3,
       CAST(base_tokens + CASE WHEN rnk <= leftover AND rem > 0 THEN 1 ELSE 0 END
            AS BIGINT) AS quota_tokens,
       CAST((1000 * (base_tokens + CASE WHEN rnk <= leftover AND rem > 0 THEN 1 ELSE 0 END))
            // greatest(n_tokens, 1) AS BIGINT) AS epochs_e3
FROM rk, lt
""",
)
def token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton largest-remainder split of a 10M-token training budget
    across languages (operators.text.allocate_token_budget): temperature
    alpha = 0.5 weights, quota-exact (quotas sum to the budget to the
    token), deterministic tie-break -- the allocation table a shard
    planner consumes."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    return tx.allocate_token_budget(docs, group_col="lang", budget=10_000_000)



@register(
    "bpe_top_merges",
    r"""
WITH toks AS (SELECT unnest(regexp_extract_all(text, '\S+')) AS w FROM documents),
wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM toks GROUP BY w),
ex AS (SELECT w, f, UNNEST(generate_series(1, length(w) - 1)) AS i
       FROM wf WHERE length(w) >= 2),
pc AS (SELECT substr(w, i, 2) AS pair, CAST(SUM(f) AS BIGINT) AS pair_count
       FROM ex GROUP BY substr(w, i, 2)),
rk AS (SELECT pair, pair_count,
              CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS BIGINT) AS rank
       FROM pc)
SELECT pair, pair_count, rank FROM rk WHERE rank <= 20
""",
)
def bpe_top_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One tokenizer-training (BPE) merge step on the engine
    (operators.text.bpe_merge_step): top-20 adjacent character pairs
    weighted by word frequency.  Pair expansion runs over the DISTINCT
    vocabulary; top-k is TakeOrderedAndProject, not a global sort."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    return tx.bpe_merge_step(docs, top_k=20)



@register(
    "shard_manifest",
    """
WITH k AS (SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS kk FROM documents),
s AS (SELECT doc_id, kk, ('0x' || substr(kk, 1, 8))::BIGINT % 16 AS shard FROM k)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY kk, doc_id) AS BIGINT) AS pos
FROM s
""",
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle
    (operators.text.shard_assignment): seeded md5 sort key -> (shard, pos)
    manifest, reproducible on any engine.  One hash-partition shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return tx.shard_assignment(docs, seed=42, n_shards=16)



@register(
    "zipf_head_coverage",
    r"""
WITH tok AS (SELECT unnest(regexp_extract_all(text, '\S+')) AS token FROM documents),
tf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY token),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM tf),
rk AS (SELECT token, n,
              CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank,
              CAST(SUM(n) OVER (ORDER BY n DESC, token ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n
       FROM tf)
SELECT rank, token, n, cum_n, (1000000 * cum_n) // n_total AS coverage_e6
FROM rk, tot WHERE rank <= 100
""",
)
def zipf_head_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf head of the corpus vocabulary with cumulative coverage
    (operators.text.zipf_coverage): rank/frequency plus the fraction of all
    corpus tokens covered through rank r.  TakeOrderedAndProject head +
    broadcast corpus-constant total."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    return tx.zipf_coverage(docs, top_k=100)



@register(
    "model_quality_score",
    r"""
WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS t FROM documents),
sc AS (SELECT doc_id,
              CAST(COUNT(*) AS BIGINT) AS n_tokens,
              CAST(SUM(('0x' || substr(md5(t), 1, 8))::BIGINT % 2001 - 1000) AS BIGINT) AS score_sum
       FROM toks GROUP BY doc_id)
SELECT doc_id, n_tokens, score_sum,
       (1000000 * score_sum) // n_tokens AS score_e6,
       score_sum > 0 AS keep
FROM sc
""",
)
def model_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words linear quality filter
    (operators.text.hashed_linear_score): fastText-shaped scoring where
    each token hashes to a weight bin; md5-derived weights keep it
    oracle-verifiable.  Map-only, zero shuffles, whole-stage codegen."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.hashed_linear_score(docs, buckets=2001)



@register(
    "source_overlap_matrix",
    r"""
WITH toks AS (SELECT source, regexp_extract_all(text, '\S+') AS t FROM documents),
st AS (SELECT source, t, UNNEST(generate_series(1, len(t) - 7)) AS i
       FROM toks WHERE len(t) >= 8),
sp AS (SELECT DISTINCT source, md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS h
       FROM st)
SELECT a.source AS source_a, b.source AS source_b,
       COUNT(*) AS n_shared_spans
FROM sp a JOIN sp b ON a.h = b.h AND a.source < b.source
GROUP BY a.source, b.source
""",
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content overlap: for every source pair, how many
    distinct 8-token span fingerprints both contain -- the diagnostic that
    decides which crawl snapshots/feeds are redundant before ingesting
    them.  Span level (not whole-document) so partial mirroring shows up.

    r14 optimization (guide §2.3/§2.4, VERDICT r13 item 2): span anchors
    are multi-arg xxhash64 via window_hash_expr (internal-only -- the
    pair COUNTS are the output, preserved under the same window<->string
    bijection argument as the r13 ExactSubstr change; the DuckDB oracle
    replays md5 values, and parity is hash-gated), per-document
    array_distinct dedups spans before the explode, and the old
    corpus-wide DISTINCT + self-join on the 32-char hex key is replaced
    by ONE groupBy(h) collecting the distinct source set per span --
    source-pair counts fall out of the per-hash source sets, so a hot
    span costs |sources| set entries instead of |A|x|B| join rows, and
    4 string-keyed exchanges become 2 bigint-keyed ones."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    w = 8
    sp = docs.withColumn("__toks", tx.tokens("text")).where(
        F.expr(f"size(__toks) >= {w}")
    ).select(
        "source",
        F.explode(
            F.expr(
                f"array_distinct(transform(sequence(1, size(__toks) - {w - 1}),"
                f" i -> {tx.window_hash_expr('__toks', 'i', w)}))"
            )
        ).alias("h"),
    )
    pairs = (
        sp.groupBy("h")
        .agg(F.array_sort(F.collect_set("source")).alias("__ss"))
        .where(F.size("__ss") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(__ss, (x, i) ->"
                    " transform(slice(__ss, i + 2, size(__ss)),"
                    " y -> struct(x AS source_a, y AS source_b))))"
                )
            ).alias("__p")
        )
        .select("__p.source_a", "__p.source_b")
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_shared_spans")
    )



@register(
    "training_mixture_manifest",
    r"""
WITH base AS (
  SELECT doc_id, lang,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
         len(regexp_extract_all(text, '\S+')) AS n_tokens
  FROM documents
),
q AS (SELECT * FROM base WHERE n_tokens >= 20),
keep AS (
  SELECT * FROM q QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY fingerprint)
),
samp AS (
  SELECT doc_id, lang FROM keep
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
        CASE lang WHEN 'en' THEN '8' WHEN 'fr' THEN 'c' ELSE 'g' END
),
k AS (SELECT doc_id, lang, md5('7:' || CAST(doc_id AS VARCHAR)) AS kk FROM samp),
s AS (SELECT doc_id, lang, kk, ('0x' || substr(kk, 1, 8))::BIGINT % 8 AS shard FROM k)
SELECT doc_id, lang, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY kk, doc_id) AS BIGINT) AS pos
FROM s
""",
)
def training_mixture_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-mixture build, stage two of the curation story
    (corpus_curation_pipeline ends at token budgets; this ends at the
    actual training order): quality gate -> exact-dedup keeper ->
    deterministic stratified mixture (en 8/16, fr 12/16, rest kept) ->
    seeded global shuffle into an 8-shard manifest with in-shard positions.

    One fused plan, two shuffles total (fingerprint keeper window, shard
    position window); every gate is a deterministic md5 rule, so the same
    manifest falls out on any engine, cluster layout, or retry."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    base = tx.fingerprint(docs).withColumn("__n", F.size(tx.tokens("text")))
    q = base.where(F.col("__n") >= 20)
    w = Window.partitionBy("fingerprint")
    keep = (
        q.withColumn("__keeper", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("__keeper"))
        .select("doc_id", "lang")
    )
    samp = tx.stratified_sample(
        keep, "lang", {"en": 8, "fr": 12}, default_16ths=16
    )
    return tx.shard_assignment(samp, seed=7, n_shards=8, extra_cols=("lang",))



@register(
    "oov_rate_report",
    r"""
WITH tok AS (
  SELECT doc_id, UNNEST(regexp_extract_all(text, '\S+')) AS token FROM documents
),
cnt AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
vocab AS (SELECT token FROM cnt ORDER BY n DESC, token LIMIT 1000)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       (1000000 * CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT))
         // COUNT(*) AS oov_ppm
FROM tok t LEFT JOIN vocab v USING (token)
GROUP BY t.doc_id
""",
)
def oov_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: per-document out-of-vocabulary rate
    against the corpus's own top-1000 token vocabulary -- the report that
    sizes a tokenizer (or flags a corpus slice the tokenizer will shred
    into bytes) before training starts.

    The vocabulary is a TakeOrdered head (1000 rows however big the
    corpus) broadcast back over the token stream: one shuffle to count
    tokens, a map-side hash anti-probe for the OOV flag, one shuffle for
    the per-doc rollup."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(tx.tokens("text")).alias("token"))
    cnt = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    vocab = cnt.orderBy(F.desc("n"), "token").limit(1000).select("token", F.lit(1).alias("__v"))
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("__v").isNull(), 1).otherwise(0)).cast("long").alias("n_oov"),
            F.expr(
                "(1000000 * cast(sum(CASE WHEN __v IS NULL THEN 1 ELSE 0 END) as decimal(38,0)))"
                " div count(1)"
            ).alias("oov_ppm"),
        )
    )



@register(
    "token_drift_by_source",
    r"""
WITH tok AS (
  SELECT source, UNNEST(regexp_extract_all(text, '\S+')) AS token FROM documents
),
st AS (SELECT source, token, COUNT(*) AS n FROM tok GROUP BY source, token),
s AS (SELECT source, CAST(SUM(n) AS BIGINT) AS tot_s FROM st GROUP BY source),
g AS (SELECT token, CAST(SUM(n) AS BIGINT) AS n_g FROM st GROUP BY token),
gt AS (SELECT CAST(SUM(tot_s) AS BIGINT) AS tot_g FROM s),
d AS (
  SELECT st.source,
         ABS((1000000 * CAST(st.n AS HUGEINT)) // CAST(s.tot_s AS HUGEINT)
           - (1000000 * CAST(g.n_g AS HUGEINT)) // CAST(gt.tot_g AS HUGEINT)) AS diff_e6
  FROM st JOIN s USING (source) JOIN g USING (token), gt
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens_distinct,
       CAST(SUM(diff_e6) AS BIGINT) AS drift_l1_e6,
       CAST(MAX(diff_e6) AS BIGINT) AS max_token_drift_e6
FROM d GROUP BY source
""",
)
def token_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-frequency drift vs the whole corpus: L1 distance
    between the source's unigram distribution and the global one, in
    integer ppm over the source's own vocabulary -- the report that flags
    a crawl snapshot whose language mix silently shifted before it
    contaminates the training mixture.

    Every branch (per-source totals, global token counts, grand total)
    hangs off the SAME (source, token) partial aggregate, so Catalyst's
    ReuseExchange materializes the tokenize+count shuffle once; the
    per-source and grand totals are broadcast back.  Ratios are integer
    ppm (decimal(38,0) div / HUGEINT //) so Spark and DuckDB agree
    bit-for-bit at any count magnitude."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    st = (
        docs.select("source", F.explode(tx.tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    s = st.groupBy("source").agg(
        F.sum(F.col("n").cast("decimal(38,0)")).cast("long").alias("tot_s")
    )
    gt = s.agg(F.sum(F.col("tot_s").cast("decimal(38,0)")).cast("long").alias("tot_g"))
    g = st.groupBy("token").agg(
        F.sum(F.col("n").cast("decimal(38,0)")).cast("long").alias("n_g")
    )
    d = (
        st.join(F.broadcast(s), "source")
        .join(g, "token")
        .crossJoin(F.broadcast(gt))
        .select(
            "source",
            F.expr(
                "abs((1000000 * cast(n as decimal(38,0))) div tot_s"
                " - (1000000 * cast(n_g as decimal(38,0))) div tot_g)"
            ).alias("diff_e6"),
        )
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens_distinct"),
        F.sum(F.col("diff_e6").cast("decimal(38,0)")).cast("long").alias("drift_l1_e6"),
        F.max("diff_e6").cast("long").alias("max_token_drift_e6"),
    )



@register(
    "bigram_surprisal_scores",
    r"""
WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
bi AS (
  SELECT doc_id, t[i] AS prev, t[i + 1] AS cur
  FROM (SELECT doc_id, t, UNNEST(generate_series(1, len(t) - 1)) AS i
        FROM toks WHERE len(t) >= 2)
),
c2 AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS n2 FROM bi GROUP BY prev, cur),
c1 AS (SELECT prev, CAST(SUM(n2) AS BIGINT) AS n1 FROM c2 GROUP BY prev),
scored AS (
  SELECT bi.doc_id, length(format('{:b}', n1 // n2)) AS bits
  FROM bi JOIN c2 USING (prev, cur) JOIN c1 USING (prev)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(bits) AS BIGINT) AS surprisal_bits,
       (1000 * CAST(SUM(bits) AS BIGINT)) // COUNT(*) AS mean_surprisal_e3
FROM scored GROUP BY doc_id
""",
)
def bigram_surprisal_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprisal (operators.text.bigram_surprisal): integer
    bits(c(prev)/c(prev,cur)) summed per document -- the order-sensitive
    perplexity proxy that flags shuffled/stuffed text unigram stats miss."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.bigram_surprisal(docs)



@register(
    "dsir_importance_resample",
    r"""
WITH RECURSIVE
docs0 AS (
  SELECT doc_id, (source = 'src18') AS is_t,
         regexp_extract_all(lower(text), '\S+') AS t
  FROM documents
),
uni AS (SELECT doc_id, is_t, UNNEST(t) AS f FROM docs0),
bi AS (
  SELECT doc_id, is_t, t[i] || '_' || t[i + 1] AS f
  FROM (SELECT doc_id, is_t, t, UNNEST(generate_series(1, len(t) - 1)) AS i
        FROM docs0 WHERE len(t) >= 2)
),
feats AS (
  SELECT doc_id, is_t, ('0x' || substr(md5(f), 1, 15))::BIGINT % 512 AS b
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
),
model AS (
  SELECT b,
         CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS tb,
         CAST(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS rb
  FROM feats GROUP BY b
),
tot AS (SELECT CAST(SUM(tb) AS BIGINT) AS tt, CAST(SUM(rb) AS BIGINT) AS rt FROM model),
vals AS (
  SELECT b, 't' AS w, tb + 1 AS x FROM model
  UNION ALL SELECT b, 'r' AS w, rb + 1 AS x FROM model
  UNION ALL SELECT -1, 'T', tt + 512 FROM tot
  UNION ALL SELECT -1, 'R', rt + 512 FROM tot
),
lg(b, w, it, e, m, frac) AS (
  SELECT b, w, 0, length(format('{:b}', x)) - 1,
         (x << 30) >> (length(format('{:b}', x)) - 1), CAST(0 AS BIGINT)
  FROM vals
  UNION ALL
  SELECT b, w, it + 1, e,
         CASE WHEN ((m * m) >> 30) >= (CAST(1 AS BIGINT) << 31)
              THEN ((m * m) >> 30) >> 1 ELSE (m * m) >> 30 END,
         frac * 2 + CASE WHEN ((m * m) >> 30) >= (CAST(1 AS BIGINT) << 31)
                         THEN 1 ELSE 0 END
  FROM lg WHERE it < 20
),
lfp AS (SELECT b, w, (e << 20) + frac AS v FROM lg WHERE it = 20),
llr AS (
  SELECT tv.b,
         tv.v - rv.v
         + (SELECT v FROM lfp WHERE w = 'R') - (SELECT v FROM lfp WHERE w = 'T')
           AS llr_fp
  FROM (SELECT b, v FROM lfp WHERE w = 't') tv
  JOIN (SELECT b, v FROM lfp WHERE w = 'r') rv USING (b)
),
docb AS (
  SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c
  FROM feats WHERE NOT is_t GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(SUM(c * llr_fp) AS BIGINT) AS weight_fp20,
       CAST(SUM(c) AS BIGINT) AS n_features
FROM docb JOIN llr USING (b)
GROUP BY doc_id
ORDER BY weight_fp20 DESC, doc_id
LIMIT 100
""",
)
def dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators.text.dsir_select; Xie et al. 2023):
    hashed unigram+bigram importance weights -- target domain = source
    'src18' -- scored over the raw pool, deterministic top-100.  The
    importance model is a <=512-row driver constant; the oracle replays the
    exact integer fixed-point-log2 recurrence as a recursive CTE, so the
    weights match bit-for-bit with no libm log anywhere."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return tx.dsir_select(docs, "source = 'src18'", buckets=512, k=100)



def duck_ilog2_sql(x: str) -> str:
    """DuckDB twin of functions.scalars.ilog2_fp20_sql: the identical
    square-and-extract-bit fixed-point log2 recurrence as a list_reduce
    fold (init element prepended, 20 dummy elements drive the 20 rounds).
    Bit-identical to the Spark expression and to ilog2_fp20."""
    e = f"(length(format('{{:b}}', {x})) - 1)"
    xb = f"CAST({x} AS BIGINT)"
    return (
        f"((CAST({e} AS BIGINT) << 20) + list_reduce("
        f"list_concat([struct_pack(m := ({xb} << 30) >> {e}, f := CAST(0 AS BIGINT))],"
        " list_transform(range(20), i -> struct_pack(m := CAST(0 AS BIGINT), f := CAST(0 AS BIGINT)))),"
        " (acc, e2) -> CASE WHEN ((acc.m * acc.m) >> 30) >= 2147483648"
        " THEN struct_pack(m := ((acc.m * acc.m) >> 30) >> 1, f := acc.f * 2 + 1)"
        " ELSE struct_pack(m := (acc.m * acc.m) >> 30, f := acc.f * 2) END).f)"
    )



def _char_entropy_oracle() -> str:
    lg_c = duck_ilog2_sql("c")
    lg_n = duck_ilog2_sql("n_chars")
    return f"""
WITH chars AS (
  SELECT doc_id, UNNEST(string_split(text, '')) AS ch FROM documents
),
counts AS (
  SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
  FROM chars WHERE ch <> '' GROUP BY doc_id, ch
),
per AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_chars,
         CAST(COUNT(*) AS BIGINT) AS alphabet_size,
         CAST(SUM(c * (0 - {lg_c})) AS BIGINT) AS hc
  FROM counts GROUP BY doc_id
)
SELECT doc_id, n_chars, alphabet_size,
       CAST(n_chars * {lg_n} + hc AS BIGINT) AS h2_fp,
       (1000000 * (n_chars * {lg_n} + hc)) // (n_chars << 20) AS mean_entropy_e6
FROM per
"""



@register("char_entropy_scores", _char_entropy_oracle())
def char_entropy_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shannon character entropy per document
    (operators.text.char_entropy): the information-density filter signal,
    computed entirely in fixed-point integer arithmetic via the
    square-and-extract-bit log2 fold -- no libm, so the DuckDB oracle
    reproduces every micro-bit.  Per-doc work after the char groupBy is
    alphabet-sized, not text-sized."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.char_entropy(docs)



def _weighted_sample_oracle(k: int = 20) -> str:
    u = (
        "(('0x' || substr(md5('ws' || '|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)"
    )
    lg_u = duck_ilog2_sql(u)
    return rf"""
WITH t AS (
  SELECT lang, doc_id,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS weight
  FROM documents
),
keyed AS (
  SELECT lang, doc_id, weight,
         (((CAST(32 AS BIGINT) << 20) - {lg_u}) * 10000000000) // weight AS es_key
  FROM t WHERE weight >= 1
)
SELECT lang, doc_id, weight, es_key, rank FROM (
  SELECT lang, doc_id, weight, es_key,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY es_key, doc_id) AS rank
  FROM keyed
) WHERE rank <= {k}
"""



@register("weighted_sample_langs", _weighted_sample_oracle())
def weighted_sample_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement per language
    (operators.text.weighted_sample; Efraimidis & Spirakis 2006), weights =
    token counts: rank by -log2(u)/w via the exact fixed-point log2 and an
    integer ratio key -- no pow/log/floats, so both engines draw the SAME
    sample.  The engine-portable form of weighted corpus subsampling."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    stats = tx.token_stats(docs).select("lang", "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"))
    return tx.weighted_sample(stats, "lang", "n_tokens", k=20)



def _entropy_sampling_oracle() -> str:
    u = (
        "(('0x' || substr(md5('ws' || '|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)"
    )
    lg_u = duck_ilog2_sql(u)
    return rf"""
WITH ent AS ({_char_entropy_oracle()}),
t AS (
  SELECT doc_id, lang,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS weight
  FROM documents
),
gated AS (
  SELECT t.lang, t.doc_id, t.weight
  FROM t JOIN ent e ON e.doc_id = t.doc_id
  WHERE e.mean_entropy_e6 >= 4050000 AND t.weight >= 1
),
keyed AS (
  SELECT lang, doc_id, weight,
         (((CAST(32 AS BIGINT) << 20) - {lg_u}) * 10000000000) // weight AS es_key
  FROM gated
)
SELECT lang, doc_id, weight, es_key, rank FROM (
  SELECT lang, doc_id, weight, es_key,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY es_key, doc_id) AS rank
  FROM keyed
) WHERE rank <= 10
"""



@register("entropy_sampling_pipeline", _entropy_sampling_oracle())
def entropy_sampling_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SHIPPED declarative pipeline end-to-end: loads
    pipelines/corpus_curation_pipeline.yaml and runs its entropy_sample
    stage -- token-count column, exact char-entropy join-gate
    (>= 4.05 bits/char), Efraimidis-Spirakis weighted sample per language
    -- proving the round-5 operators are first-class in the YAML dialect,
    not just the Python API.  The oracle composes the entropy and
    sampling replays over the gate."""
    from odp_dynamic_data_pipeline_spark.plans.pipeline import load_pipeline

    pipe = load_pipeline("pipelines/corpus_curation_pipeline.yaml")
    outputs, _ = pipe.compile(spark, path_vars={"sf": sf_dir})
    out = outputs["entropy_sample"]
    return out.select("lang", "doc_id", F.col("weight"), "es_key", "rank")



@register(
    "quantile_normalize_scores",
    """
WITH x AS (SELECT doc_id, source, n_chars AS v FROM documents),
s AS (
  SELECT doc_id, source, v,
         row_number() OVER (PARTITION BY source ORDER BY v, doc_id) AS r,
         COUNT(*) OVER (PARTITION BY source) AS ns
  FROM x
),
g AS (SELECT v AS gv, row_number() OVER (ORDER BY v, doc_id) AS p FROM x),
n AS (SELECT COUNT(*) AS ng FROM x)
SELECT s.doc_id, s.source, s.v, g.gv AS norm_v
FROM s CROSS JOIN n
JOIN g ON g.p = (s.r - 1) * n.ng // s.ns + 1
""",
)
def quantile_normalize_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across sources: map each source's score
    distribution onto the GLOBAL distribution (a doc at its source's p-th
    quantile gets the global p-th-quantile value), removing per-source
    scale drift before cross-source comparisons or mixing -- the
    genomics-borrowed trick that makes heterogeneous quality scores
    commensurable.  Rank-based and exact: per-source ranks are partitioned
    windows; the GLOBAL rank table comes from the distributed two-pass
    `global_rank` operator (never a one-task sort); the lookup is an
    equi-join on the integer position floor((r-1)*ng/ns)+1.  Shuffles
    carry (id, rank) pairs only."""
    from odp_dynamic_data_pipeline_spark.operators.partitioning import global_rank

    x = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").alias("v")
    )
    ws = Window.partitionBy("source").orderBy("v", "doc_id")
    s = x.select(
        "doc_id",
        "source",
        "v",
        F.row_number().over(ws).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("ns"),
    )
    g = global_rank(x.select("v", "doc_id"), ["v", "doc_id"], rank_col="p").select(
        F.col("v").alias("gv"), "p"
    )
    # corpus size = max global rank: read from the already-checkpointed rank
    # table instead of a second full scan of the source
    ng = g.agg(F.max("p")).first()[0] or 1  # empty-corpus guard, keeps plan analyzable
    s = s.withColumn("p", F.expr(f"(r - 1) * {ng} div ns + 1"))
    return s.join(g, "p").select("doc_id", "source", "v", F.col("gv").alias("norm_v"))



def _dp_h32(tag: str) -> str:
    """Spark SQL: 32-bit uniform in [1, 2^32] from md5 of the group key."""
    return (
        f"CAST(conv(substr(md5(concat(lang, '|', source, '|{tag}')), 1, 15), 16, 10) AS BIGINT)"
        " % 4294967296 + 1"
    )



def _dp_h32_duck(tag: str) -> str:
    return (
        f"('0x' || substr(md5(lang || '|' || source || '|{tag}'), 1, 15))::BIGINT"
        " % 4294967296 + 1"
    )



@register(
    "dp_noisy_counts",
    f"""
WITH c AS (SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY lang, source),
h AS (
  SELECT lang, source, n,
         {_dp_h32_duck('u1')} AS h1,
         {_dp_h32_duck('u2')} AS h2
  FROM c
),
l AS (
  SELECT lang, source, n,
         {duck_ilog2_sql('h1')} AS l1,
         {duck_ilog2_sql('h2')} AS l2
  FROM h
)
SELECT lang, source, n AS true_count,
       CAST(((l2 - l1) * 726817) // 1048576 AS BIGINT) AS noise_fp20,
       CAST((n * 1048576) + ((l2 - l1) * 726817) // 1048576 AS BIGINT) AS noisy_count_fp20
FROM l
""",
)
def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (Laplace mechanism, eps = 1,
    sensitivity 1): per-(lang, source) counts plus Laplace(1) noise built
    as the difference of two exponentials, Exp = -ln(U), with U drawn from
    the md5 hash of the group key -- SEEDED noise so the release is
    reproducible and the oracle can replay it exactly (a production
    release would draw U from a CSPRNG; the mechanism shape is identical).
    ln is the repo's exact fixed-point log2 recurrence (no libm):
    ln U = (ilog2_fp20(h) - 32<<20) * ln2, and the ln2 factor 726817/2^20
    with div-truncation is shared by both engines, so the noisy counts are
    hash-exact integers.  Group-key work only -- the mechanism costs one
    expression per RELEASED row, nothing per document."""
    from odp_dynamic_data_pipeline_spark.functions.scalars import ilog2_fp20_sql

    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    h = c.selectExpr(
        "lang", "source", "n", f"{_dp_h32('u1')} AS h1", f"{_dp_h32('u2')} AS h2"
    )
    lg = h.selectExpr(
        "lang",
        "source",
        "n",
        f"{ilog2_fp20_sql('h1')} AS l1",
        f"{ilog2_fp20_sql('h2')} AS l2",
    )
    return lg.selectExpr(
        "lang",
        "source",
        "n AS true_count",
        "CAST(((l2 - l1) * 726817) div 1048576 AS BIGINT) AS noise_fp20",
        "CAST((n * 1048576) + ((l2 - l1) * 726817) div 1048576 AS BIGINT) AS noisy_count_fp20",
    )



def _ahash_oracle() -> str:
    def px(r: str, c: str, ch: int) -> str:
        return f"((({r}) * 24 + ({c}) * 3 + {ch}) * k) % 256"

    def gray(r: str, c: str) -> str:
        return "(" + " + ".join(px(r, c, ch) for ch in range(3)) + ") // 3"

    cell = (
        "("
        + " + ".join(
            gray(f"(o // 4) * 2 + {dr}", f"(o % 4) * 2 + {dc}")
            for dr in (0, 1)
            for dc in (0, 1)
        )
        + ") // 4"
    )
    return f"""
WITH ids AS (
  SELECT doc_id, doc_id % 251 + 1 AS k FROM documents
  WHERE doc_id < 200 AND doc_id % 2 = 1
),
cells AS (
  SELECT doc_id, o, CAST({cell} AS BIGINT) AS cell
  FROM ids CROSS JOIN (SELECT unnest(range(0, 8)) AS o)
),
m AS (
  SELECT doc_id, CAST(SUM(cell) AS BIGINT) // 8 AS mean_cell FROM cells GROUP BY doc_id
),
sig AS (
  SELECT cells.doc_id,
         CAST(SUM(CASE WHEN cell > mean_cell THEN 1 << o ELSE 0 END) AS BIGINT) AS ahash
  FROM cells JOIN m ON cells.doc_id = m.doc_id
  GROUP BY cells.doc_id
)
SELECT ahash, COUNT(*) AS n_images,
       array_to_string(list(doc_id ORDER BY doc_id), ',') AS members
FROM sig GROUP BY ahash
"""



@register("multimodal_ahash_dedup", _ahash_oracle())
def multimodal_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image NEAR-DUP detection via perceptual average-hash: real PPM
    payloads -> grayscale -> cell grid -> packed 8-bit aHash signature
    (operators.multimodal.ahash_image, Arrow-batched), then duplicate
    classes = GROUP BY signature -- pixel work happens exactly once per
    image and dedup is an 8-byte-key aggregation, the only shape that
    survives a 100 TB media corpus.  The synthetic raster is a closed form
    of doc_id, so the oracle replays decode -> gray -> box-mean ->
    threshold -> bit-pack entirely in SQL: the real-bytes Python path and
    the analytic form must agree bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id").where(
        (F.col("doc_id") < 200) & (F.col("doc_id") % 2 == 1)
    )
    media = mm.attach_synth_media(docs)
    sig = mm.ahash_image(media)
    return sig.groupBy("ahash").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias("members"),
    )



def duck_iexp2_sql(f: str) -> str:
    """DuckDB twin of functions.scalars.iexp2_fp20_sql: identical fp20
    exp2 fold as a list_reduce over the same 2^(2^-k) constants."""
    from odp_dynamic_data_pipeline_spark.operators.text import EXP2_FP20_CONSTS

    consts = "[" + ", ".join(str(c) for c in EXP2_FP20_CONSTS) + "]"
    frac = f"((CAST({f} AS BIGINT)) & 1048575)"
    return (
        f"(list_reduce(list_concat([CAST(1048576 AS BIGINT)],"
        f" list_transform(range(1, 21), k -> CAST(k AS BIGINT))),"
        f" (acc, k) -> CASE WHEN (({frac} >> (20 - CAST(k AS INT))) & 1) = 1"
        f" THEN (acc * ({consts})[CAST(k AS INT)]) >> 20 ELSE acc END)"
        f" << (CAST({f} AS BIGINT) >> 20))"
    )



@register(
    "window_heavy_hitters",
    """
WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents),
win AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS wh
  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i
        FROM toks)
),
agg AS (
  SELECT wh, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM win GROUP BY wh HAVING COUNT(*) >= 2
)
SELECT wh, n_occurrences, n_docs
FROM agg ORDER BY n_occurrences DESC, wh LIMIT 20
""",
)
def window_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key report on the ExactSubstr window-hash shuffle
    (operators.text.window_heavy_hitters, VERDICT r8 item 8): the 20
    most-repeated 8-token windows with occurrence and distinct-doc
    counts -- how a deployment spots the mega-viral boilerplate window
    before it becomes the shuffle's hot key.  Deterministic ordering
    (count desc, wh) makes the top-k hash-stable across engines."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.window_heavy_hitters(docs, "text", min_tokens=8, top=20)



def _pmi_oracle(min_count: int = 5, k: int = 20) -> str:
    lg_num = duck_ilog2_sql("tot.n * n_ab")
    lg_den = duck_ilog2_sql("n_a * n_b")
    return f"""
WITH t AS (
  SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
),
bg AS (
  SELECT UNNEST(list_transform(range(1, len(toks)),
                i -> struct_pack(a := toks[i], b := toks[i+1]))) AS p
  FROM t
),
pairs AS (
  SELECT p.a AS a, p.b AS b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM bg GROUP BY p.a, p.b
),
firsts AS (SELECT a, CAST(SUM(n_ab) AS BIGINT) AS n_a FROM pairs GROUP BY a),
seconds AS (SELECT b, CAST(SUM(n_ab) AS BIGINT) AS n_b FROM pairs GROUP BY b),
tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n FROM pairs),
scored AS (
  SELECT a, b, n_ab, n_a, n_b,
         CAST(({lg_num}) - ({lg_den}) AS BIGINT) AS pmi_fp20
  FROM pairs JOIN firsts USING (a) JOIN seconds USING (b) CROSS JOIN tot
  WHERE n_ab >= {min_count}
)
SELECT a, b, n_ab, n_a, n_b, pmi_fp20
FROM scored ORDER BY pmi_fp20 DESC, a, b LIMIT {k}
"""



@register("pmi_collocations", _pmi_oracle())
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (operators.text.pmi_collocations): top-20
    adjacent token pairs by pointwise mutual information (Church & Hanks
    1990) with a min-count gate -- the multi-word-term lexicon pass of a
    text pipeline.  PMI's log2 runs through the same fp20 fixed-point
    recurrence as the BM25 idf on integer products, so positive AND
    negative scores replay bit-for-bit in the DuckDB oracle.  One bigram
    pass, vocabulary-sized marginals broadcast onto the pair table,
    TakeOrdered top-k."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.pmi_collocations(docs, min_count=5, k=20)
