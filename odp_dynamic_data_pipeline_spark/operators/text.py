"""Text analysis operators for training-data pipelines: tokenization,
quality scoring, language-ID heuristic, fingerprinting.

All JVM-side built-ins (regexp/hash functions) -- no Python in the hot path,
so these run at full whole-stage-codegen speed over 100 TB of documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TOKEN_PATTERN = r"\S+"

# tiny deterministic stopword profiles for the language-ID heuristic
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "a", "to"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "que", "de", "y"],
    "de": ["der", "und", "die", "das", "ein"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],  # romanized placeholders
}


def tokens(col: Column | str) -> Column:
    # Raw SQL string literal (r'...'): a plain '...' literal would swallow
    # the backslash and tokenize with the regex "S+".
    name = col if isinstance(col, str) else col._jc.toString()
    return F.expr(f"regexp_extract_all({name}, r'{TOKEN_PATTERN}', 0)")


def with_tokens(df: DataFrame, text_col: str = "text", out_col: str = "tokens") -> DataFrame:
    return df.withColumn(out_col, F.expr(f"regexp_extract_all({text_col}, r'{TOKEN_PATTERN}', 0)"))


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds n_tokens / n_unique_tokens / sum_token_len columns."""
    df = with_tokens(df, text_col)
    return (
        df.withColumn("n_tokens", F.size("tokens"))
        .withColumn("n_unique_tokens", F.size(F.array_distinct("tokens")))
        .withColumn(
            "sum_token_len",
            F.expr("aggregate(transform(tokens, t -> length(t)), CAST(0 AS BIGINT), (a, x) -> a + x)"),
        )
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic quality features (integer-exact where aggregated):
    char/token counts, unique ratio, stopword count.  A 100 TB curation pass
    filters on these before any expensive model-based scoring."""
    df = token_stats(df, text_col)
    stop = LANG_PROFILES["en"]
    stop_arr = "array(" + ",".join(f"'{s}'" for s in stop) + ")"
    return df.withColumn(
        "n_stopwords",
        F.expr(f"size(filter(tokens, t -> array_contains({stop_arr}, t)))"),
    )


def language_id(df: DataFrame, text_col: str = "text", out_col: str = "pred_lang") -> DataFrame:
    """n-gram/stopword-profile language ID: score = number of profile-word
    hits; argmax with a fixed tie order (profile declaration order)."""
    df = with_tokens(df, text_col)
    langs = list(LANG_PROFILES)
    for lang, words in LANG_PROFILES.items():
        arr = "array(" + ",".join(f"'{w}'" for w in words) + ")"
        df = df.withColumn(f"__score_{lang}", F.expr(f"size(filter(tokens, t -> array_contains({arr}, t)))"))
    # earliest language attaining the max score wins (fixed tie order =
    # profile declaration order); greatest() keeps the expression linear
    # instead of a nested fold (codegen size matters at 5 + languages)
    best = F.greatest(*[F.col(f"__score_{la}") for la in langs])
    pred = None
    for lang in reversed(langs):
        cond = F.col(f"__score_{lang}") == best
        pred = F.when(cond, F.lit(lang)) if pred is None else F.when(cond, F.lit(lang)).otherwise(pred)
    # reversed fold means earlier langs override later ones on ties
    out = df.withColumn(out_col, pred)
    return out.drop(*[f"__score_{lang}" for lang in langs])


def window_hash_expr(toks_col: str, start_expr: str, n_tokens: int) -> str:
    """SQL text hashing the ``n_tokens`` tokens starting at 1-based
    position ``start_expr`` of array column ``toks_col`` straight through
    multi-argument xxhash64 -- no slice allocation, no joined window
    string, no md5 (r13 optimization round, guide §2.3/§4.2: the window
    string build + md5 was the dominant per-row cost of the ExactSubstr
    family, and the 32-char hex key shuffled 4-5x the bytes of a bigint).

    Equality semantics match the old md5(array_join(slice(...), ' '))
    anchor exactly: tokens are \\S+ runs (never contain the separator),
    so window tuple <-> joined string is a bijection, and xxhash64 chains
    each argument's bytes into the running state per argument -- distinct
    tuples collide only with the generic ~n^2/2^64 hash-collision odds
    every hashed-key stage in this module already accepts (the DuckDB
    oracles replay md5 anchors; both sides are collision-free on real
    corpora, which the driver's hash gate verifies value-for-value).

    NOT for consumers that expose the hash value itself (those pin md5 in
    their oracle output -- see window_heavy_hitters).

    HARD PRECONDITION (advisor r13): the window must be fully in range --
    ``1 <= start_expr`` and ``start_expr + n_tokens - 1 <= size(toks_col)``
    for every row.  element_at (unlike the old slice) indexes from the
    array END for negative positions and returns NULL out-of-range under
    non-ANSI (xxhash64 then SKIPS the null arg, so a truncated window
    silently hashes like a shorter tuple) or THROWS under
    spark.sql.ansi.enabled.  Callers with derived start positions must
    guard with a CASE WHEN like token_windows does."""
    args = ", ".join(
        f"element_at({toks_col}, ({start_expr}) + {j})" for j in range(n_tokens)
    )
    return f"xxhash64({args})"


def fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fingerprint") -> DataFrame:
    """Content fingerprint: md5 of the normalized text (lowercase, collapsed
    whitespace).  Stable across engines and runs; the join key for exact
    dedup at scale."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.withColumn(out_col, F.md5(norm))


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    *,
    chunk_tokens: int = 64,
    stride: int = 48,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Split each document into overlapping token windows (the standard
    pre-tokenization step for LLM training shards): window ``chunk_tokens``
    wide, advancing ``stride`` tokens, final partial window kept.

    One row in, ceil(max(n-W,0)/S)+1 rows out (for stride <= chunk_tokens),
    columns (id_cols..., chunk_id, chunk_text, n_chunk_tokens).  Pure array
    arithmetic (sequence + slice) -- no Python, no shuffle; at 100 TB this
    is a map-only stage.

    The sequence upper bound is ``n - W + S`` (capped at ``n``) rather than
    ``n - W + 1`` so that when ``(n - W) % S != 0`` one extra start is
    emitted and the final partial window is actually kept -- otherwise up
    to ``S - 1`` trailing tokens would be silently dropped."""
    id_cols = id_cols or ["doc_id"]
    df = with_tokens(df, text_col, "__toks")
    upper = (
        f"least(greatest(size(__toks) - {chunk_tokens} + {stride}, 1),"
        f" greatest(size(__toks), 1))"
    )
    chunks = df.select(
        *id_cols,
        F.posexplode(
            F.expr(
                f"transform(sequence(1, {upper}, {stride}),"
                f" i -> slice(__toks, i, {chunk_tokens}))"
            )
        ).alias("chunk_id", "__chunk"),
    )
    return chunks.select(
        *id_cols,
        "chunk_id",
        F.array_join("__chunk", " ").alias("chunk_text"),
        F.size("__chunk").alias("n_chunk_tokens"),
    )


def repetition_grams(df: DataFrame, text_col: str = "text", *, n: int = 2) -> DataFrame:
    """Explode each document into its (non-distinct) word n-grams: one row
    per n-gram occurrence, columns (input cols minus text..., gram).

    Feeds repetition-quality filtering (Gopher-style, Rae et al. 2021
    "Scaling Language Models": high top-n-gram fraction marks boilerplate /
    degenerate text).  Distinctness is deliberately NOT applied -- the
    signal is exactly the repeat multiplicity."""
    from odp_dynamic_data_pipeline_spark.operators.partitioning import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    df = with_tokens(df, text_col, "__toks")
    gram = F.expr(
        f"transform(sequence(1, greatest(size(__toks) - {n - 1}, 0)),"
        f" i -> array_join(slice(__toks, i, {n}), ' '))"
    )
    keep = [c for c in df.columns if c not in (text_col, "__toks")]
    return df.select(*keep, F.explode(gram).alias("gram"))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates_16ths: dict[str, int],
    id_col: str = "doc_id",
    *,
    default_16ths: int = 0,
) -> DataFrame:
    """Deterministic stratified sampling: keep ~``rates_16ths[stratum]``/16
    of each stratum, gated on the md5 hex prefix of the stable id -- NOT
    rand(), so the same row set survives on every engine, run, and cluster
    layout.  This is corpus mixture re-weighting (upsample scarce domains,
    downsample dominant ones) as a pure map-side filter: no shuffle, no
    state, trivially correct under retries."""
    hex_digit = F.substring(F.md5(F.col(id_col).cast("string")), 1, 1)
    thresholds = "0123456789abcdefg"
    gate = None
    for stratum, sixteenths in rates_16ths.items():
        cond = F.col(strata_col) == stratum
        test = hex_digit < F.lit(thresholds[sixteenths])
        gate = F.when(cond, test) if gate is None else gate.when(cond, test)
    gate = gate.otherwise(hex_digit < F.lit(thresholds[default_16ths]))
    return df.where(gate)


PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE = "\\+?[0-9][0-9() .-]{7,}[0-9]"


def scrub_pii(df: DataFrame, text_col: str = "text", out_col: str = "scrubbed") -> DataFrame:
    """Redact email addresses and phone-number-shaped digit runs
    ([EMAIL]/[PHONE] placeholders).  JVM regexp_replace, global by default
    -- the deterministic first line of PII hygiene in a corpus pipeline
    (model-based NER passes come later, off the hot path)."""
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col(text_col), PII_EMAIL, "[EMAIL]"),
        PII_PHONE,
        "[PHONE]",
    )
    return df.withColumn(out_col, scrubbed)


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    *,
    seq_tokens: int = 2048,
    part_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Concat-and-cut training-sequence packing MANIFEST: documents are laid
    end to end in (``part_col``, ``id_col``) order and cut every
    ``seq_tokens`` tokens -- the standard GPT-style shard-prep step that
    turns a curated corpus into fixed-length training rows.  This emits the
    placement manifest (which sequence each doc starts in and at which
    offset), not the re-materialized shards: the manifest is what a
    distributed tokenizer job consumes, and it is tiny relative to the text.

    Scale shape: ONE window cumsum per ``part_col`` partition (no global
    sort -- packing streams are independent per language/domain shard by
    construction), then pure arithmetic.  Documents longer than
    ``seq_tokens`` simply span multiple sequences, exactly like the
    concat-and-cut it models.

    Output: (part_col, id_col, n_tokens, global_offset, seq_id,
    seq_offset, n_seqs_spanned).
    """
    from pyspark.sql import Window

    df = with_tokens(df, text_col, "__toks")
    sized = df.select(part_col, id_col, F.size("__toks").cast("long").alias("n_tokens"))
    w = Window.partitionBy(part_col).orderBy(id_col)
    offset = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("global_offset")
    out = sized.select(part_col, id_col, "n_tokens", offset)
    return out.select(
        part_col,
        id_col,
        "n_tokens",
        "global_offset",
        (F.col("global_offset") / seq_tokens).cast("long").alias("seq_id"),
        (F.col("global_offset") % seq_tokens).cast("long").alias("seq_offset"),
        # a doc spans ceil((seq_offset + n_tokens) / L) - did it straddle cuts
        (
            (F.col("global_offset") % seq_tokens + F.col("n_tokens") + seq_tokens - 1)
            / seq_tokens
        ).cast("long").alias("n_seqs_spanned"),
    )


def boilerplate_scrub(
    df: DataFrame,
    text_col: str = "text",
    *,
    block_tokens: int = 8,
    min_docs: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-internal boilerplate removal (the CCNet/RefinedWeb
    repeated-unit scrub): split each document into consecutive
    ``block_tokens``-token blocks, count how many DISTINCT documents each
    exact block occurs in, and drop blocks seen in >= ``min_docs`` docs
    (headers, footers, navigation chrome, license banners).  The cleaned
    text is the surviving blocks re-joined in order.

    Scale shape: explode -> one shuffle on the block hash to build the
    block document-frequency table -> hash-join back -> re-aggregate per
    doc.  The df table is orders of magnitude smaller than the corpus
    (only repeated blocks matter) and could be broadcast after a frequency
    floor at real scale.

    Output: (id_col, n_blocks, n_dropped, clean_text)."""
    df = with_tokens(df, text_col, "__toks")
    blocks = df.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(size(__toks), 1), {block_tokens}),"
                f" i -> array_join(slice(__toks, i, {block_tokens}), ' '))"
            )
        ).alias("block_idx", "block"),
    ).where(F.col("block") != "")
    # distinct-doc frequency per block; md5 keeps the join key 16 bytes
    freq = (
        blocks.select(F.md5("block").alias("bh"), id_col)
        .groupBy("bh")
        .agg(F.countDistinct(id_col).alias("block_df"))
    )
    tagged = blocks.withColumn("bh", F.md5("block")).join(freq, "bh", "left")
    return (
        tagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum((F.col("block_df") >= min_docs).cast("long")).alias("n_dropped"),
            F.array_join(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("block_df") < min_docs,
                            F.struct("block_idx", "block"),
                        )
                    )
                )["block"],
                " ",
            ).alias("clean_text"),
        )
    )


def unigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-statistics quality score: per document, the sum and mean of
    each token's integer surprisal proxy ``bits(N / freq(token))`` where N
    is the corpus token count -- the cheap stand-in for LM perplexity that
    flags rare-token-heavy documents (gibberish, encoding damage, wrong
    language) before any model-based scoring.

    ``bits(x) = length(bin(x)) = floor(log2(x)) + 1`` keeps the whole score
    in exact integer arithmetic: transcendental log() is NOT bit-identical
    across engines/libms, but binary-digit counting is, so the score is
    oracle-checkable and retry-stable.

    Scale shape: one shuffle builds the token-frequency table, one join
    tags occurrences (the frequency table gets a floor + broadcast at
    corpus scale), one aggregation per document.

    Output: (id_col, n_tokens, surprisal_bits, mean_surprisal_e3)."""
    toks = with_tokens(df.select(id_col, text_col), text_col, "__toks").select(
        id_col, F.explode("__toks").alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    n_total = freq.agg(F.sum("tf").alias("n")).select("n")
    scored = (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(n_total))
        .select(
            id_col,
            F.expr("length(bin(CAST(n AS BIGINT) div CAST(tf AS BIGINT)))").alias("bits"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("bits").cast("long").alias("surprisal_bits"),
        F.expr("(1000 * CAST(sum(bits) AS BIGINT)) div count(1)").alias("mean_surprisal_e3"),
    )


def shared_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    span_tokens: int = 8,
) -> DataFrame:
    """Exact repeated-span detection (the substring-level dedup signal of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): every ``span_tokens``-token sliding window is anchored with
    a multi-arg xxhash64 bigint (window_hash_expr; r13 -- the hash never
    surfaces in the output); a span is SHARED when the same anchor occurs
    in at least two distinct documents, and each document reports what
    fraction of its spans is shared -- the per-doc signal a curation pass
    thresholds on to drop boilerplate-heavy documents.

    Tokenization is materialized into a column before the window lambda
    (one regex pass per document, not per span), windows hash straight
    from the token array (no slice/join allocations), and the corpus-wide
    span frequency is one shuffle on the 8-byte anchor with map-side
    partial aggregation.
    Documents shorter than ``span_tokens`` tokens have no spans and are
    excluded (no 0/0 fraction).

    Output: (id_col, n_spans, n_shared_spans, shared_frac_e6)."""
    from odp_dynamic_data_pipeline_spark.operators.partitioning import ensure_min_parallelism

    w = span_tokens
    spans = (
        ensure_min_parallelism(df.select(id_col, text_col))
        .withColumn("__toks", tokens(text_col))
        .where(F.expr(f"size(__toks) >= {w}"))
        .withColumn(
            "__spans",
            F.expr(
                f"transform(sequence(1, size(__toks) - {w - 1}),"
                f" i -> {window_hash_expr('__toks', 'i', w)})"
            ),
        )
        .select(id_col, F.explode("__spans").alias("h"))
    )
    span_docs = spans.groupBy("h").agg(F.count_distinct(F.col(id_col)).alias("nd"))
    return (
        spans.join(span_docs, "h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).cast("long").alias("n_shared_spans"),
            F.expr(
                "(1000000 * CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)) div count(1)"
            ).alias("shared_frac_e6"),
        )
    )


def mixture_weights(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-based corpus mixture weights (the multilingual /
    multi-source resampling rule w_g = n_g^alpha, alpha = 0.5): how hard
    to oversample low-resource groups when drawing the training mixture.

    alpha = 1/2 keeps the whole computation integer-exact across engines:
    weight_e3 = floor(sqrt(n_docs * 1e6)) uses the correctly-rounded IEEE
    sqrt both engines share, and the normalizing total is a bigint sum --
    no transcendental pow(), no order-dependent double accumulation.

    One aggregation to the group counts (|groups| rows), then a broadcast
    of the single-row total; nothing else touches the corpus.

    Output: (group_col, n_docs, n_tokens, weight_e3, share_e6,
    oversample_e6 = share relative to the natural document share)."""
    counts = df.select(group_col, text_col).groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(text_col))).cast("long").alias("n_tokens"),
    )
    weighted = counts.withColumn(
        "weight_e3",
        F.expr("CAST(floor(sqrt(CAST(n_docs * 1000000 AS DOUBLE))) AS BIGINT)"),
    )
    totals = weighted.agg(
        F.sum("weight_e3").alias("w_total"), F.sum("n_docs").alias("d_total")
    )
    return weighted.crossJoin(F.broadcast(totals)).select(
        group_col,
        "n_docs",
        "n_tokens",
        "weight_e3",
        F.expr("(1000000 * weight_e3) div w_total").alias("share_e6"),
        F.expr("((1000000 * weight_e3) div w_total) * d_total div n_docs").alias("oversample_e6"),
    )


def allocate_token_budget(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    *,
    budget: int = 10_000_000,
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed training
    token budget across groups, weighted by the alpha = 0.5 temperature
    rule w_g = floor(sqrt(n_tokens_g * 1e6)).

    Hamilton's method is the unique quota-respecting allocation: every
    group gets floor(budget * w_g / W) and the residual budget goes +1
    each to the largest fractional remainders (ties broken by group name).
    sum(quota) == budget EXACTLY -- the invariant a shard planner needs --
    and every step is integer arithmetic both engines reproduce.

    One corpus shuffle for the group token counts; everything after runs
    on |groups| rows (two single-row broadcast totals, one tiny window).
    epochs_e3 shows repetition pressure: quota relative to the group's
    own token supply."""
    counts = df.select(group_col, text_col).groupBy(group_col).agg(
        F.sum(F.size(tokens(text_col))).cast("long").alias("n_tokens"),
    )
    w = counts.withColumn(
        "weight_e3",
        F.expr("CAST(floor(sqrt(CAST(n_tokens * 1000000 AS DOUBLE))) AS BIGINT)"),
    )
    wt = w.agg(F.sum(F.col("weight_e3").cast("decimal(38,0)")).cast("long").alias("w_total"))
    based = w.crossJoin(F.broadcast(wt)).select(
        group_col,
        "n_tokens",
        "weight_e3",
        # greatest(..., 1): a corpus slice of all-empty documents has
        # w_total = 0; with the rem > 0 gate below the allocation then
        # degrades to all-zero quotas instead of an ANSI divide-by-zero
        # job failure (the quota == budget invariant only holds when some
        # group has tokens to receive them)
        F.expr(
            f"CAST((CAST({budget} AS decimal(38,0)) * weight_e3)"
            f" div greatest(w_total, 1) AS BIGINT)"
        ).alias("base_tokens"),
        F.expr(
            f"CAST((CAST({budget} AS decimal(38,0)) * weight_e3)"
            f" % greatest(w_total, 1) AS BIGINT)"
        ).alias("rem"),
    )
    lt = based.agg(
        (F.lit(budget) - F.sum(F.col("base_tokens").cast("decimal(38,0)")).cast("long")).alias(
            "leftover"
        )
    )
    rk = Window.orderBy(F.desc("rem"), group_col)
    return (
        based.crossJoin(F.broadcast(lt))
        .withColumn("__rk", F.row_number().over(rk))
        .select(
            group_col,
            "n_tokens",
            "weight_e3",
            # rem > 0: ranks 1..leftover always carry positive remainders
            # in a real allocation (leftover = sum of fractional parts), so
            # this changes nothing there -- but when every weight is 0 the
            # degenerate answer becomes all-zero quotas, not spurious +1s
            (
                F.col("base_tokens")
                + F.when((F.col("__rk") <= F.col("leftover")) & (F.col("rem") > 0), 1).otherwise(0)
            )
            .cast("long")
            .alias("quota_tokens"),
            F.expr(
                f"CAST((1000 * (base_tokens +"
                f" CASE WHEN __rk <= leftover AND rem > 0 THEN 1 ELSE 0 END))"
                f" div greatest(n_tokens, 1) AS BIGINT)"
            ).alias("epochs_e3"),
        )
    )


def span_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    span_tokens: int = 8,
) -> DataFrame:
    """Prefix-ordered span novelty: the fraction of a document's
    ``span_tokens``-token windows whose fingerprint has NOT appeared in any
    lower-id document -- the signal used to order or down-weight documents
    whose content is already covered earlier in the corpus (greedy
    coverage / curriculum curation).

    A span's first owner is min(id) over its occurrences, so novelty needs
    only the same one-shuffle span-frequency table as
    :func:`shared_span_stats` (group by fingerprint keeping min(id)), then
    a join back and a per-document aggregate.  Windows repeated WITHIN one
    document count as novel only where the document itself is the first
    owner (self-repeats of an inherited span are not novel).

    Output: (id_col, n_spans, n_novel_spans, novelty_e6)."""
    from odp_dynamic_data_pipeline_spark.operators.partitioning import ensure_min_parallelism

    w = span_tokens
    spans = (
        ensure_min_parallelism(df.select(id_col, text_col))
        .withColumn("__toks", tokens(text_col))
        .where(F.expr(f"size(__toks) >= {w}"))
        .withColumn(
            "__spans",
            F.expr(
                f"transform(sequence(1, size(__toks) - {w - 1}),"
                f" i -> {window_hash_expr('__toks', 'i', w)})"
            ),
        )
        .select(id_col, F.explode("__spans").alias("h"))
    )
    first_owner = spans.groupBy("h").agg(F.min(F.col(id_col)).alias("first_id"))
    return (
        spans.join(first_owner, "h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("first_id") == F.col(id_col), 1).otherwise(0))
            .cast("long")
            .alias("n_novel_spans"),
            F.expr(
                f"(1000000 * CAST(sum(CASE WHEN first_id = {id_col} THEN 1 ELSE 0 END) AS BIGINT))"
                " div count(1)"
            ).alias("novelty_e6"),
        )
    )


def bpe_merge_step(
    df: DataFrame,
    text_col: str = "text",
    *,
    top_k: int = 20,
) -> DataFrame:
    """One BPE-training merge step at corpus scale: the ``top_k`` most
    frequent adjacent character pairs, weighted by word frequency -- the
    statistic a tokenizer trainer computes to pick its next merge.  Running
    it on the engine (instead of sampling to a single machine) is how a
    100 TB corpus gets an honestly-representative tokenizer.

    Two vocab-sized shuffles: corpus -> word frequencies (map-side combine
    collapses repeats per executor first), then distinct words -> pair
    counts.  The per-word pair expansion runs on the DISTINCT vocabulary
    (|V| rows), not the corpus, so the explode is tiny relative to input.
    Top-k via orderBy+limit, which Spark compiles to TakeOrderedAndProject
    (per-partition heaps + single merge -- no global sort, no
    single-partition shuffle of the full pair table).

    Output: (pair, pair_count, rank), rank 1-based by (count desc, pair)."""
    wf = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    pairs = (
        wf.where(F.length("w") >= 2)
        .select(
            "f",
            F.explode(
                F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
            ).alias("pair"),
        )
        .groupBy("pair")
        # pair_count is bounded by total corpus chars; decimal(38,0)
        # accumulator per the repo overflow discipline, long on output
        .agg(F.sum(F.col("f").cast("decimal(38,0)")).cast("long").alias("pair_count"))
    )
    top = pairs.orderBy(F.desc("pair_count"), "pair").limit(top_k)
    w = Window.orderBy(F.desc("pair_count"), "pair")
    return top.select(
        "pair", "pair_count", F.row_number().over(w).cast("long").alias("rank")
    )


def shard_assignment(
    df: DataFrame,
    id_col: str = "doc_id",
    *,
    seed: int = 42,
    n_shards: int = 16,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic global training shuffle: every document gets a
    pseudo-random but reproducible (shard, position) from
    md5(seed ':' id) -- the standard way to randomize example order for
    training without a true (irreproducible) shuffle.  Re-running with the
    same seed on any engine yields byte-identical shard manifests.

    One shuffle: hash-partition by shard, then an in-shard row_number over
    the md5 sort key.  Choose n_shards ~ target output file count (hundreds
    to thousands at 100 TB) so each shard's window sort fits an executor;
    shards are md5-balanced so skew is ~1/sqrt(rows/shard).

    Output: (id_col, shard, pos) -- pos is 1-based within the shard."""
    keyed = df.select(
        id_col,
        *extra_cols,
        F.expr(f"md5(concat('{seed}:', CAST({id_col} AS STRING)))").alias("__k"),
    ).withColumn(
        "shard",
        F.expr(f"CAST(conv(substr(__k, 1, 8), 16, 10) AS BIGINT) % {n_shards}"),
    )
    w = Window.partitionBy("shard").orderBy("__k", id_col)
    return keyed.select(
        id_col, *extra_cols, "shard", F.row_number().over(w).cast("long").alias("pos")
    )


def zipf_coverage(
    df: DataFrame,
    text_col: str = "text",
    *,
    top_k: int = 100,
) -> DataFrame:
    """Zipf rank/frequency head of the corpus with cumulative coverage:
    for the top_k most frequent tokens, what fraction of ALL corpus tokens
    the vocabulary up to rank r covers.  The curve a tokenizer/vocab-size
    decision reads (and the fastest smell test for boilerplate domination).

    One corpus->vocab shuffle with map-side combine, then
    TakeOrderedAndProject for the head (no global sort) and a window over
    the top_k surviving rows only.  The corpus token total rides along as a
    broadcast single-row cross join, so no job collects it to the driver.

    Output: (rank, token, n, cum_n, coverage_e6)."""
    tf = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = tf.agg(F.sum(F.col("n").cast("decimal(38,0)")).cast("long").alias("n_total"))
    top = tf.orderBy(F.desc("n"), "token").limit(top_k)
    w = Window.orderBy(F.desc("n"), "token")
    ranked = top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "token",
        "n",
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("cum_n"),
    )
    return ranked.crossJoin(F.broadcast(total)).select(
        "rank",
        "token",
        "n",
        "cum_n",
        F.expr("(1000000 * cum_n) div n_total").alias("coverage_e6"),
    )


def hashed_linear_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    buckets: int = 2001,
) -> DataFrame:
    """fastText-shaped model-based quality filter, engine-portable: each
    token hashes into one of ``buckets`` weight bins, the bin's weight is a
    deterministic function of the hash (md5 -> [-(buckets div 2),
    +(buckets div 2)]), and the document score is the mean token weight.
    The SHAPE is exactly a hashed bag-of-words linear classifier -- swap
    the md5-derived weights for a broadcast learned-weight map and this is
    production model-based filtering; the md5 weights keep it
    cross-engine-verifiable here.

    Map-only, zero shuffles: the token fold runs in one aggregate() lambda
    inside whole-stage codegen; no Python touches the 100 TB hot path.

    Output: (id_col, n_tokens, score_sum, score_e6, keep)."""
    half = buckets // 2
    out = (
        df.select(id_col, text_col)
        .withColumn("__toks", tokens(text_col))
        .where(F.expr("size(__toks) >= 1"))
        .select(
            id_col,
            F.expr("size(__toks)").cast("long").alias("n_tokens"),
            F.expr(
                "aggregate(transform(__toks,"
                f" t -> CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT) % {buckets} - {half}),"
                " CAST(0 AS BIGINT), (a, x) -> a + x)"
            ).alias("score_sum"),
        )
    )
    return out.select(
        id_col,
        "n_tokens",
        "score_sum",
        F.expr("(1000000 * score_sum) div n_tokens").alias("score_e6"),
        (F.col("score_sum") > 0).alias("keep"),
    )


def bigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Conditional (bigram-LM) surprisal score: per document, the sum and
    mean of ``bits(c(prev) / c(prev, cur))`` over adjacent token pairs --
    one LM order above :func:`unigram_surprisal`, so it also catches
    documents whose words are individually common but ungrammatically
    ordered (shuffled text, keyword stuffing, template damage).

    Same integer discipline: ``bits(x) = length(bin(x))`` is binary-digit
    counting, bit-identical across engines, never a transcendental log.

    Scale shape: one shuffle builds the bigram table (map-side combine),
    the context table is a second tiny aggregate OF that table, and the
    occurrence stream takes two equi-joins (at corpus scale both tables
    get a frequency floor; rare bigrams default to the max-bits bucket).

    Output: (id_col, n_bigrams, surprisal_bits, mean_surprisal_e3)."""
    pairs_expr = (
        "transform(sequence(1, size(__toks) - 1),"
        " i -> struct(element_at(__toks, i) AS prev, element_at(__toks, i + 1) AS cur))"
    )
    bi = (
        with_tokens(df.select(id_col, text_col), text_col, "__toks")
        .where(F.expr("size(__toks) >= 2"))
        .select(id_col, F.explode(F.expr(pairs_expr)).alias("p"))
        .select(id_col, F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))
    )
    c2 = bi.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("n2"))
    c1 = c2.groupBy("prev").agg(F.sum("n2").cast("long").alias("n1"))
    scored = (
        bi.join(c2, ["prev", "cur"])
        .join(c1, "prev")
        .select(
            id_col,
            F.expr("length(bin(CAST(n1 AS BIGINT) div CAST(n2 AS BIGINT)))").alias("bits"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("bits").cast("long").alias("surprisal_bits"),
        F.expr("(1000 * CAST(sum(bits) AS BIGINT)) div count(1)").alias("mean_surprisal_e3"),
    )


# ---------------------------------------------------------------------------
# DSIR importance resampling (round 5)
# ---------------------------------------------------------------------------


def ilog2_fp20(x: int) -> int:
    """Exact fixed-point log2 with 20 fractional bits, pure integer.

    The classic square-and-extract-bit recurrence: normalize x to mantissa
    m in [2^30, 2^31) (so log2(x) = e + log2(m/2^30)), then 20 rounds of
    m <- m^2 >> 30, emitting a 1 and halving whenever the square crosses
    2^31.  Every step is int64-safe for x < 2^33 (x << 30 and m*m < 2^63),
    and the identical recurrence runs as a recursive CTE in the DuckDB
    oracle -- no libm log(), so results are bit-identical on any engine.
    """
    if x < 1:
        raise ValueError("ilog2_fp20 requires x >= 1")
    e = x.bit_length() - 1
    m = (x << 30) >> e
    frac = 0
    for _ in range(20):
        m2 = (m * m) >> 30
        if m2 >= 1 << 31:
            frac = frac * 2 + 1
            m = m2 >> 1
        else:
            frac = frac * 2
            m = m2
    return (e << 20) + frac


def dsir_select(
    docs: DataFrame,
    target_pred: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 512,
    k: int = 100,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): score every candidate (non-target) document by the
    log-likelihood ratio of a hashed-n-gram bag-of-features model fit on
    the target domain vs the raw pool, and keep the top-k.

    Spark shape, 100 TB-safe:

    * features = unigrams + adjacent bigrams of the lowercased text, hashed
      to ``buckets`` ids via the engine-portable md5->bigint idiom -- one
      explode, all JVM expressions;
    * the two multinomial models are ONE ``groupBy(bucket)`` with map-side
      combine: at any corpus size the shuffle carries <= ``buckets``
      rows per partition;
    * per-bucket add-one-smoothed log ratios are computed on the DRIVER
      over the <= ``buckets``-row model with :func:`ilog2_fp20` (exact
      Python ints, the same bounded-driver-constant pattern as the k-means
      centroids), then broadcast-joined back;
    * per-doc weight = sum(count_b * llr_b) -- broadcast join + one
      ``groupBy(doc_id)``; the final top-k is TakeOrderedAndProject, no
      global sort materialization.

    Weights are in 2^-20 log2 units (a positive constant times the paper's
    natural-log weights, so selection order is identical).  Deterministic
    resampling tiebreak: (weight DESC, doc_id ASC).
    """
    base = docs.select(
        F.col(id_col),
        F.expr(target_pred).alias("__is_t"),
        F.expr(f"regexp_extract_all(lower({text_col}), r'{TOKEN_PATTERN}', 0)").alias("__t"),
    )
    feats = base.select(
        id_col,
        "__is_t",
        F.explode(
            F.expr(
                "concat(__t, CASE WHEN size(__t) >= 2 THEN"
                " transform(sequence(1, size(__t) - 1),"
                " i -> concat(element_at(__t, i), '_', element_at(__t, i + 1)))"
                " ELSE array() END)"
            )
        ).alias("__f"),
    ).select(
        id_col,
        "__is_t",
        F.expr(f"CAST(conv(substr(md5(__f), 1, 15), 16, 10) AS BIGINT) % {buckets}").alias("__b"),
    )
    # the expensive tokenize+explode+md5 pass runs ONCE: reduce straight to
    # per-(doc, bucket) histograms (<= `buckets` rows per doc, map-side
    # combined) and checkpoint that compact table -- both the global model
    # and the per-doc scoring derive from it without re-scanning the text
    hist = (
        feats.groupBy(id_col, "__is_t", "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=False)
    )
    model = hist.groupBy("__b").agg(
        F.sum(F.when(F.col("__is_t"), F.col("__c")).otherwise(0)).cast("long").alias("tb"),
        F.sum(F.when(F.col("__is_t"), 0).otherwise(F.col("__c"))).cast("long").alias("rb"),
    )
    rows = model.collect()  # bounded: <= `buckets` rows at ANY corpus size
    t_total = sum(r["tb"] for r in rows) + buckets
    r_total = sum(r["rb"] for r in rows) + buckets
    off = ilog2_fp20(r_total) - ilog2_fp20(t_total)
    llr = [
        (r["__b"], ilog2_fp20(r["tb"] + 1) - ilog2_fp20(r["rb"] + 1) + off) for r in rows
    ]
    from odp_dynamic_data_pipeline_spark.functions.localrel import local_relation

    llr_df = local_relation(docs.sparkSession, llr, "__b bigint, llr_fp bigint")
    docb = hist.where(~F.col("__is_t")).select(id_col, "__b", "__c")
    scored = (
        docb.join(F.broadcast(llr_df), "__b")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("__c") * F.col("llr_fp")).cast("long").alias("weight_fp20"),
            F.sum("__c").cast("long").alias("n_features"),
        )
    )
    return scored.orderBy(F.col("weight_fp20").desc(), F.col(id_col)).limit(k)


def char_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT Shannon character entropy per document, in fixed-point bits --
    the information-density quality signal (gibberish and repeated-char
    spam score near 0; natural text sits in a narrow band).

    H = sum_i (c_i/N) * log2(N/c_i) is computed as integer arithmetic:
    h2_fp = sum_i c_i * (ilog2_fp20(N) - ilog2_fp20(c_i)) in 2^-20
    bit-counts, using the same square-and-extract-bit log2 recurrence as
    DSIR (functions.scalars.ilog2_fp20_sql), evaluated per aggregated
    (doc, char) row -- a fold inside codegen, no libm, no Python, so any
    engine reproduces it bit-for-bit.

    Two shuffles on doc-keys (char counts, then per-doc sum); per-doc
    row count after the first groupBy is the alphabet size, not the text
    length.  mean_entropy_e6 is exact micro-bits/char; int64-safe for
    docs < ~10^6 chars (1e6 * h2_fp < 2^63)."""
    from odp_dynamic_data_pipeline_spark.functions.scalars import ilog2_fp20_sql

    chars = df.select(
        id_col, F.explode(F.split(F.col(text_col), "")).alias("__ch")
    ).where(F.col("__ch") != "")
    counts = chars.groupBy(id_col, "__ch").agg(F.count(F.lit(1)).alias("__c"))
    per_doc = counts.groupBy(id_col).agg(
        F.sum("__c").cast("long").alias("n_chars"),
        F.count(F.lit(1)).cast("long").alias("alphabet_size"),
        F.sum(F.expr(f"__c * (0 - {ilog2_fp20_sql('__c')})")).cast("long").alias("__hc"),
    )
    return per_doc.select(
        id_col,
        "n_chars",
        "alphabet_size",
        F.expr(f"CAST(n_chars * {ilog2_fp20_sql('n_chars')} + __hc AS BIGINT)").alias("h2_fp"),
        F.expr(
            f"(1000000 * (n_chars * {ilog2_fp20_sql('n_chars')} + __hc))"
            " div shiftleft(n_chars, 20)"
        ).alias("mean_entropy_e6"),
    )


def weighted_sample(
    df: DataFrame,
    stratum_col: str,
    weight_col: str,
    *,
    id_col: str = "doc_id",
    k: int = 20,
    seed: str = "ws",
) -> DataFrame:
    """Deterministic weighted sampling without replacement per stratum
    (Efraimidis & Spirakis 2006): item i gets key u_i^(1/w_i) with u_i
    uniform; the k largest keys are a proper weighted sample.

    Engine-portable and EXACT: u_i is the md5-derived 60-bit uniform
    (seed|id), and instead of the float pow we rank by
    -log2(u_i)/w_i ASCENDING (a strictly monotone transform of the E-S
    key), with -log2(u) computed by the exact fixed-point recurrence and
    the ratio compared via the integer key floor(a * 10^10 / w) --
    deterministic ties broken by id.  No pow, no log, no floats: any
    engine reproduces the SAME sample.

    One map to key + one per-stratum top-k window.  At 100 TB the window
    input is the full table but carries only (stratum, key, id) -- or
    pre-reduce with the bucket-minima pattern (SCALE.md) if strata are
    huge.  Output: (stratum, id, weight, es_key, rank)."""
    from odp_dynamic_data_pipeline_spark.functions.scalars import ilog2_fp20_sql

    # 32-bit uniform (8 hex chars): ilog2_fp20_sql requires x < 2^33, and
    # u+1 <= 2^32 keeps the (x << 30) normalization int64-exact on every
    # engine (a 60-bit u overflows the shift -- DuckDB raises, Spark wraps)
    u = (
        f"(CAST(conv(substr(md5(concat('{seed}', '|', CAST({id_col} AS STRING))), 1, 8),"
        " 16, 10) AS BIGINT) + 1)"
    )
    a = f"(shiftleft(CAST(32 AS BIGINT), 20) - {ilog2_fp20_sql(u)})"
    keyed = (
        df.select(stratum_col, id_col, F.col(weight_col).alias("weight"))
        .where(F.col("weight") >= 1)
        .withColumn("es_key", F.expr(f"({a} * 10000000000) div weight"))
    )
    w = Window.partitionBy(stratum_col).orderBy("es_key", id_col)
    return (
        keyed.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(stratum_col, id_col, "weight", "es_key", "rank")
    )


def bm25_scores(
    df: DataFrame,
    terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """BM25 retrieval (Robertson/Sparck Jones probabilistic relevance, the
    lexical-search baseline) with EXACT integer arithmetic end to end --
    engine-portable because the idf log2 runs through the fixed-point
    recurrence (ilog2_fp20) on driver-side corpus constants and the tf
    saturation is a scaled integer rational (k1=1.2, b=0.75 folded into
    integer coefficients: tf_norm_e6 = 1e6*44*tf*avgdl //
    (20*tf*avgdl + 6*avgdl + 18*dl)).

    Corpus stats (N, avgdl, per-term df) are one bounded collect
    (<= |terms|+1 rows -- the centroid/codebook driver-constant pattern);
    scoring is a broadcast join of the term->idf literal onto the per-doc
    tf rows, one groupBy, TakeOrderedAndProject top-k.  Robertson idf can
    go negative for df > N/2; kept, exactly as the formula says.
    Output: (id_col, n_hit_terms, score_fp)."""
    from odp_dynamic_data_pipeline_spark.operators.partitioning import ensure_min_parallelism

    tok = ensure_min_parallelism(df.select(id_col, text_col)).select(
        id_col, F.explode(F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")).alias("__t")
    )
    dl = tok.groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("dl"))
    terms_arr = "array(" + ",".join(f"'{t}'" for t in terms) + ")"
    tf = (
        tok.where(F.expr(f"array_contains({terms_arr}, __t)"))
        .groupBy(id_col, "__t")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    # bounded driver constants: N, avgdl, df per query term
    n_row = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("dl").cast("long").alias("tot")
    ).first()
    n_docs, avgdl = int(n_row["n"]), int(n_row["tot"]) // int(n_row["n"])
    dfs = {r["__t"]: int(r["n"]) for r in tf.groupBy("__t").agg(F.countDistinct(id_col).alias("n")).collect()}
    idf = [
        (t, ilog2_fp20(2 * n_docs - 2 * dfs.get(t, 0) + 1) - ilog2_fp20(2 * dfs.get(t, 0) + 1))
        for t in terms
        if t in dfs
    ]
    from odp_dynamic_data_pipeline_spark.functions.localrel import local_relation

    idf_df = local_relation(df.sparkSession, idf, "__t string, idf_fp long")
    scored = (
        tf.join(F.broadcast(idf_df), "__t")
        .join(dl, id_col)
        .withColumn(
            "__contrib",
            F.expr(
                f"idf_fp * ((1000000 * (44 * tf * {avgdl}))"
                f" div (20 * tf * {avgdl} + 6 * {avgdl} + 18 * dl))"
            ),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
            F.sum("__contrib").cast("long").alias("score_fp"),
        )
    )
    return scored.orderBy(F.col("score_fp").desc(), F.col(id_col)).limit(k)

EXP2_FP20_CONSTS: list[int] = [
    round(2 ** (2**-k) * (1 << 20)) for k in range(1, 21)
]
"""2^(2^-k) for k=1..20 in fp20 -- the 20 fractional-bit factors of the
exp2 fold.  Generated once from IEEE doubles (deterministic values, the
same literals are embedded in the Spark expression and the DuckDB twin),
then every downstream step is pure integer."""


def iexp2_fp20(f: int) -> int:
    """Exact fixed-point 2^f for fp20 input f >= 0, pure integer: the
    inverse companion of :func:`ilog2_fp20`.  Integer part by shift;
    fractional part as a truncating product over EXP2_FP20_CONSTS (one
    factor per set fraction bit).  int64-safe while (f >> 20) <= 42
    (result < 2^63 in fp20).  The identical fold runs as a Spark
    ``aggregate`` expression (functions.scalars.iexp2_fp20_sql) and a
    DuckDB list_reduce twin, so 2^x is bit-identical cross-engine with
    no libm."""
    if f < 0:
        raise ValueError("iexp2_fp20 requires f >= 0")
    frac = f & ((1 << 20) - 1)
    acc = 1 << 20
    for k in range(1, 21):
        if (frac >> (20 - k)) & 1:
            acc = (acc * EXP2_FP20_CONSTS[k - 1]) >> 20
    return acc << (f >> 20)


def occurrence_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_tokens: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """OCCURRENCE-gated exact-substring duplicate spans: every MAXIMAL
    token span whose every ``min_tokens``-token window occurs at least
    ``min_count`` times in the corpus -- across documents OR repeated
    within one (the suffix-array counting semantics of Lee et al. 2022
    ExactSubstr).  Deliberate VARIANT of
    ``operators.dedup.duplicate_spans``, which gates on >= 2 DISTINCT
    documents (within-doc degenerate repetition invisible) and exists to
    feed the keep-one-copy scrub; this occurrence gate also catches
    self-repetition (looping boilerplate, template stutter) and feeds the
    cut-ALL-copies scrub and the cross-corpus decontamination join (all
    share ``token_windows`` / ``merge_window_spans`` so every variant
    hashes identical anchors).

    Relational shape (the suffix array replaced by fixed-length anchor
    hashing): (1) explode each doc into its sliding windows -- n_tokens
    rows total, the honest cost of stride-1 coverage; (2) ONE shuffle on
    the 16-byte md5 window hash counts global occurrences; (3) join the
    >= min_count hashes back; (4) per-doc interval merge of the surviving
    window positions (one partitioned window function): consecutive
    duplicated windows with gap <= min_tokens fuse into one maximal span.
    Every step is JVM expressions; at 100 TB the window-frequency table
    is the only wide shuffle and it prunes to repeated hashes only.

    A token inside ANY duplicated window is a duplicated token (Lee et
    al.'s removal criterion); spans are maximal runs of duplicated
    tokens.  Output: (id_col, span_start, span_end, span_tokens,
    n_windows) -- 1-based inclusive token positions, ready for a slice()
    scrub or a removal-rate report."""
    if min_tokens < 2:
        raise ValueError(f"min_tokens must be >= 2, got {min_tokens}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    win = token_windows(df, text_col, min_tokens=min_tokens, id_col=id_col)
    dup_h = (
        win.groupBy("wh")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= min_count)
        .select("wh")
    )
    dup = win.join(dup_h, "wh").select(id_col, "pos")
    return merge_window_spans(dup, min_tokens=min_tokens, id_col=id_col)


def token_windows(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_tokens: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Stride-1 sliding token windows as (id_col, pos, wh): the bigint
    anchor table shared by the ExactSubstr span family -- every variant
    MUST hash identical window text or their spans disagree.  The anchor
    is multi-argument xxhash64 over the window's tokens (see
    :func:`window_hash_expr`):
    value-internal only -- every consumer groups/joins on it and surfaces
    spans, never the hash itself."""
    L = min_tokens
    toks = with_tokens(df.select(id_col, text_col), text_col, "__toks")
    # sequence(1, 0) is DESCENDING in Spark, so short docs need the guard
    return toks.select(
        id_col,
        F.explode(
            F.expr(
                f"CASE WHEN size(__toks) >= {L} THEN "
                f"transform(sequence(1, size(__toks) - {L} + 1), i -> "
                f"struct(i AS pos, {window_hash_expr('__toks', 'i', L)} AS wh))"
                f" ELSE array() END"
            )
        ).alias("w"),
    ).select(id_col, F.col("w.pos").alias("pos"), F.col("w.wh").alias("wh"))


def merge_window_spans(
    dup: DataFrame,
    *,
    min_tokens: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc interval merge of duplicated window positions (id_col, pos)
    into maximal spans -- the second half of ``duplicate_spans`` and of
    its variants.  Windows are all ``min_tokens`` long at stride 1, so
    two survive-positions fuse iff their gap is <= min_tokens (overlap or
    adjacency)."""
    L = min_tokens
    w = Window.partitionBy(id_col).orderBy("pos")
    prev = F.lag("pos").over(w)
    new_grp = F.when(prev.isNull() | (F.col("pos") - prev > L), 1).otherwise(0)
    grouped = dup.withColumn(
        "__grp",
        F.sum(new_grp).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return grouped.groupBy(id_col, "__grp").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + F.lit(L - 1)).cast("long").alias("span_end"),
        (F.max("pos") + F.lit(L - 1) - F.min("pos") + 1).cast("long").alias("span_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_windows"),
    ).drop("__grp")


def scrub_occurrence_spans(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_tokens: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """The removal half of :func:`occurrence_duplicate_spans`: every token
    inside a reported maximal duplicated span is removed from EVERY
    occurrence and the survivors re-join in order -- the "delete repeated
    material entirely" action (right for boilerplate/self-repetition).
    Deliberate VARIANT of ``operators.dedup.scrub_duplicate_spans``, which
    elects a keeper (lowest doc id keeps its copy) -- right when one
    canonical copy should survive.  Conservation law (tested):
    n_clean_tokens == n_tokens - n_dropped_tokens, and a document with no
    duplicated span passes through with its token sequence intact.

    Scale shape: duplicate_spans' one wide shuffle, a per-doc span
    collect_list (spans per doc are few and short by construction), one
    broadcast-shaped left join back to the corpus, then pure array
    expressions -- no Python, no second shuffle over the corpus.

    Output: (id_col, n_tokens, n_dropped_tokens, clean_text)."""
    spans = occurrence_duplicate_spans(
        df, text_col, min_tokens=min_tokens, min_count=min_count, id_col=id_col
    )
    agg = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans"),
        F.sum("span_tokens").alias("__dropped"),
    )
    toks = with_tokens(df.select(id_col, text_col), text_col, "__toks")
    joined = toks.join(agg, id_col, "left")
    covered = (
        "exists(coalesce(__spans, array()),"
        " s -> i >= s.span_start AND i <= s.span_end)"
    )
    clean = (
        f"CASE WHEN size(__toks) >= 1 THEN "
        f"array_join(transform(filter(sequence(1, size(__toks)),"
        f" i -> NOT {covered}), i -> element_at(__toks, i)), ' ')"
        f" ELSE '' END"
    )
    return joined.select(
        id_col,
        # NULL text tokenizes to a NULL array; report 0 tokens, not the
        # legacy sizeOfNull -1 (the oracle coalesces len(t) the same way)
        F.when(F.col("__toks").isNotNull(), F.size("__toks"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_tokens"),
        F.coalesce(F.col("__dropped"), F.lit(0)).cast("long").alias("n_dropped_tokens"),
        F.expr(clean).alias("clean_text"),
    )


def cross_duplicate_spans(
    corpus: DataFrame,
    needles: DataFrame,
    *,
    min_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-corpus ExactSubstr -- span-level DECONTAMINATION: every
    maximal token span of a CORPUS document whose every ``min_tokens``-
    token window also occurs somewhere in the NEEDLE set (the benchmark /
    eval corpus).  This is the eval-leakage variant of
    :func:`duplicate_spans` (the GPT-3 / PaLM decontamination appendices
    run exactly this asymmetric check before training): the n-gram
    overlap-rate report (`contamination_check`) says WHETHER a doc is
    tainted; this says precisely WHICH maximal spans leaked, so the fix
    can be a surgical cut instead of dropping the document.

    Scale shape: the needle window set is DISTINCT window hashes of the
    (small) benchmark side -- broadcastable in practice; the corpus side
    streams its stride-1 windows through one semi-join, then the per-doc
    interval merge.  No frequency table, no self-join.

    Output: (id_col, span_start, span_end, span_tokens, n_windows) over
    corpus documents only."""
    if min_tokens < 2:
        raise ValueError(f"min_tokens must be >= 2, got {min_tokens}")
    cw = token_windows(corpus, text_col, min_tokens=min_tokens, id_col=id_col)
    nw = (
        token_windows(needles, text_col, min_tokens=min_tokens, id_col=id_col)
        .select("wh")
        .distinct()
    )
    dup = cw.join(nw, "wh").select(id_col, "pos")
    return merge_window_spans(dup, min_tokens=min_tokens, id_col=id_col)


def window_heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_tokens: int = 8,
    top: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """Skew report for the window-hash shuffle that anchors the whole
    ExactSubstr family (duplicate_spans / occurrence_duplicate_spans):
    the ``top`` most-repeated token windows with their occurrence and
    distinct-document counts.  A mega-viral
    boilerplate window (cookie banners, license headers) is ONE hot key
    on ``wh``; this report is how an operator finds it before it finds
    them.

    The shuffle itself absorbs the skew by construction -- COUNT over
    ``wh`` partial-aggregates map-side, so the hot key crosses the wire
    as one row per upstream partition, not once per occurrence; and the
    join-back in the span operators broadcasts the (small) duplicated-
    hash set, so the window table is never re-shuffled on the hot key
    (crafted 10^6-occurrence receipt in tests/test_window_skew.py and
    SCALE.md).  orderBy+limit compiles to TakeOrdered: k rows to the
    driver, never a global sort."""
    if top < 1:
        raise ValueError(f"top must be >= 1, got {top}")
    # This report EXPOSES the window hash (wh is an output column and the
    # deterministic tie-break of the top-k ordering), so it keeps the md5
    # anchor its oracle replays -- the internal span operators moved to
    # the cheaper xxhash64 anchor (window_hash_expr), which only works
    # where the hash never surfaces.
    L = min_tokens
    toks = with_tokens(df.select(id_col, text_col), text_col, "__toks")
    win = toks.select(
        id_col,
        F.explode(
            F.expr(
                f"CASE WHEN size(__toks) >= {L} THEN "
                f"transform(sequence(1, size(__toks) - {L} + 1), i -> "
                f"struct(i AS pos, md5(array_join(slice(__toks, i, {L}), ' ')) AS wh))"
                f" ELSE array() END"
            )
        ).alias("w"),
    ).select(id_col, F.col("w.pos").alias("pos"), F.col("w.wh").alias("wh"))
    agg = (
        win.groupBy("wh")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct(id_col).cast("long").alias("n_docs"),
        )
        .where(F.col("n_occurrences") >= 2)
    )
    return agg.orderBy(F.col("n_occurrences").desc(), "wh").limit(top)


def char_exact_spans(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_tokens: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    max_ext: int = 64,
) -> DataFrame:
    """Character-exact boundary trim for :func:`occurrence_duplicate_spans`
    (VERDICT r8 item 5): the token-window spans are token-granular -- a
    duplicated region whose true boundary falls INSIDE a token (shared
    "...foo" prefix of otherwise-different boundary tokens, Lee et al.
    2022's byte-exact suffix-array bounds) gets cut at the token edge.
    This pass extends each span end character-by-character against a
    PARTNER occurrence of the span's boundary window:

      1. recompute each span's boundary window hashes from the doc's OWN
         token array (no join against the corpus window table on
         position);
      2. for every needed hash, keep the two smallest corpus occurrences
         (row_number <= 2 over (doc, pos) -- every in-span window has
         >= min_count >= 2 occurrences by construction), and pick the
         first that is not the span's own boundary -- a deterministic
         partner, possibly the same document at another position;
      3. extend left/right by the longest common suffix/prefix of the
         two NORMALIZED texts (tokens joined by single spaces -- the
         same token space the window hashes anchor) around the span and
         around the partner's window, capped at ``max_ext`` characters
         per side.

    The cap keeps the comparison O(max_ext) per span AND is semantically
    safe: an aligned match of >= min_tokens full tokens past the
    boundary would have produced duplicated windows and widened the
    token span itself, so real extensions are < min_tokens tokens.
    Extensions count characters of the normalized text and INCLUDE the
    inter-token space when both contexts share it (the character-exact
    duplicated substring " foo" starts at the separator).

    Scale shape: spans-bounded joins throughout -- the corpus window
    table is touched once, semi-join-pruned to boundary hashes; the
    occurrence pivot is two rows per hash; partner texts join on doc id
    (spans-bounded); the character math is JVM string expressions over
    <= max_ext chars.  No Python, no new corpus-scale shuffle.

    Output: (id_col, span_start, span_end, span_tokens, char_start,
    char_end, ext_left, ext_right, char_exact_start, char_exact_end) --
    char columns are 1-based inclusive indices into the normalized
    text."""
    L = min_tokens
    if max_ext < 1:
        raise ValueError(f"max_ext must be >= 1, got {max_ext}")
    spans = occurrence_duplicate_spans(
        df, text_col, min_tokens=L, min_count=min_count, id_col=id_col
    )
    toks = with_tokens(df.select(id_col, text_col), text_col, "__toks").select(
        id_col, "__toks"
    )
    sp = spans.join(toks, id_col).select(
        id_col,
        "span_start",
        "span_end",
        "span_tokens",
        "__toks",
        F.expr(
            window_hash_expr("__toks", "CAST(span_start AS INT)", L)
        ).alias("__lwh"),
        F.expr(
            window_hash_expr("__toks", f"CAST(span_end - {L} + 1 AS INT)", L)
        ).alias("__rwh"),
    )
    # materialize the span derivation ONCE (lazy localCheckpoint, the r13
    # CC-fold discipline): sp feeds three consumers (the lwh/rwh needle
    # selects and the final partner joins), and without the checkpoint
    # each one re-ran the whole occurrence_duplicate_spans pipeline --
    # the r14 plan audit counted the spans subtree 3x and the election
    # subtree 2x in one query (guide §2.4: don't recompute what a plan
    # consumes repeatedly; §3.3: materializing also truncates the
    # replicated-subtree plan blowup).  Within-query only -- nothing
    # survives the run.
    sp = sp.localCheckpoint(eager=False)
    needles = (
        sp.select(F.col("__lwh").alias("wh"))
        .unionByName(sp.select(F.col("__rwh").alias("wh")))
        .distinct()
    )
    win = token_windows(df, text_col, min_tokens=L, id_col=id_col)
    occ = win.join(needles, "wh", "left_semi")
    w2 = Window.partitionBy("wh").orderBy(F.col(id_col), F.col("pos"))
    o12 = (
        occ.withColumn("__rn", F.row_number().over(w2))
        .where(F.col("__rn") <= 2)
        .groupBy("wh")
        .agg(
            F.max(
                F.when(
                    F.col("__rn") == 1,
                    F.struct(
                        F.col(id_col).alias("pid"), F.col("pos").alias("ppos")
                    ),
                )
            ).alias("o1"),
            F.max(
                F.when(
                    F.col("__rn") == 2,
                    F.struct(
                        F.col(id_col).alias("pid"), F.col("pos").alias("ppos")
                    ),
                )
            ).alias("o2"),
        )
    )
    # one row per needle hash (needle-bounded): checkpoint so the
    # election window runs once, not once per side consumed below
    o12 = o12.localCheckpoint(eager=False)
    lo = o12.select(
        F.col("wh").alias("__lwh"), F.col("o1").alias("__lo1"), F.col("o2").alias("__lo2")
    )
    ro = o12.select(
        F.col("wh").alias("__rwh"), F.col("o1").alias("__ro1"), F.col("o2").alias("__ro2")
    )
    sp = sp.join(lo, "__lwh").join(ro, "__rwh")
    self_l = (F.col("__lo1.pid") == F.col(id_col)) & (
        F.col("__lo1.ppos") == F.col("span_start")
    )
    self_r = (F.col("__ro1.pid") == F.col(id_col)) & (
        F.col("__ro1.ppos") == F.col("span_end") - F.lit(L) + F.lit(1)
    )
    sp = sp.withColumn(
        "__pl", F.when(self_l, F.col("__lo2")).otherwise(F.col("__lo1"))
    ).withColumn("__pr", F.when(self_r, F.col("__ro2")).otherwise(F.col("__ro1")))
    plt = toks.select(
        F.col(id_col).alias("__plid"), F.col("__toks").alias("__pltoks")
    )
    prt = toks.select(
        F.col(id_col).alias("__prid"), F.col("__toks").alias("__prtoks")
    )
    sp = (
        sp.withColumn("__plid", F.col("__pl.pid"))
        .withColumn("__prid", F.col("__pr.pid"))
        .join(plt, "__plid")
        .join(prt, "__prid")
    )
    # 1-based char index of token p's first char in the normalized text
    def cstart(arr: str, p: str) -> str:
        return (
            f"CASE WHEN {p} <= 1 THEN CAST(1 AS BIGINT) ELSE "
            f"CAST(length(array_join(slice({arr}, 1, CAST({p} AS INT) - 1), ' ')) + 2 AS BIGINT) END"
        )

    # 1-based char index of token p's last char
    def cend(arr: str, p: str) -> str:
        return f"CAST(length(array_join(slice({arr}, 1, CAST({p} AS INT)), ' ')) AS BIGINT)"

    sp = (
        sp.withColumn("__a0", F.expr(cstart("__toks", "span_start")))
        .withColumn("__a1", F.expr(cend("__toks", "span_end")))
        .withColumn("__b0", F.expr(cstart("__pltoks", "__pl.ppos")))
        .withColumn(
            "__b1", F.expr(cend("__prtoks", f"__pr.ppos + {L} - 1"))
        )
        .withColumn("__onorm", F.expr("array_join(__toks, ' ')"))
        .withColumn("__plnorm", F.expr("array_join(__pltoks, ' ')"))
        .withColumn("__prnorm", F.expr("array_join(__prtoks, ' ')"))
    )
    sp = (
        sp.withColumn(
            "__la", F.expr(f"substr(reverse(substr(__onorm, 1, CAST(__a0 AS INT) - 1)), 1, {max_ext})")
        )
        .withColumn(
            "__lb", F.expr(f"substr(reverse(substr(__plnorm, 1, CAST(__b0 AS INT) - 1)), 1, {max_ext})")
        )
        .withColumn("__ra", F.expr(f"substr(__onorm, CAST(__a1 AS INT) + 1, {max_ext})"))
        .withColumn("__rb", F.expr(f"substr(__prnorm, CAST(__b1 AS INT) + 1, {max_ext})"))
    )

    def lcp(a: str, b: str, out: str) -> str:
        n = f"least(length({a}), length({b}))"
        mism = (
            f"array_position(transform(sequence(1, {n}), i -> "
            f"substr({a}, i, 1) = substr({b}, i, 1)), false)"
        )
        return (
            f"CAST(CASE WHEN {n} = 0 THEN 0 "
            f"WHEN {mism} = 0 THEN {n} ELSE {mism} - 1 END AS BIGINT) AS {out}"
        )

    sp = sp.selectExpr(
        id_col,
        "span_start",
        "span_end",
        "span_tokens",
        "__a0 AS char_start",
        "__a1 AS char_end",
        lcp("__la", "__lb", "ext_left"),
        lcp("__ra", "__rb", "ext_right"),
    )
    return sp.select(
        id_col,
        "span_start",
        "span_end",
        "span_tokens",
        "char_start",
        "char_end",
        "ext_left",
        "ext_right",
        (F.col("char_start") - F.col("ext_left")).alias("char_exact_start"),
        (F.col("char_end") + F.col("ext_right")).alias("char_exact_end"),
    )


def scrub_char_exact(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_tokens: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    max_ext: int = 64,
) -> DataFrame:
    """The REMOVAL half of :func:`char_exact_spans`: cut every
    character-exact duplicated range from the NORMALIZED text (tokens
    joined by single spaces -- the coordinate space the char bounds
    live in) of every document that carries one.  Character-exact
    sibling of :func:`scrub_occurrence_spans` (which cuts whole
    tokens): the sub-token fragments the boundary trim recovers
    ("...foo" shared by otherwise-different tokens) are removed too,
    Lee et al. 2022's byte-exact deletion.

    Extended ranges from adjacent spans can touch or overlap, so the
    char intervals are interval-merged per document first (running-max
    window, the merge_window_spans discipline in char space).  The cut
    itself is a single JVM ``aggregate`` fold over the doc's sorted
    intervals -- O(intervals) string concats per doc, not a per-char
    scan.  Conservation law (tested): length(clean_text) == n_chars -
    n_dropped_chars.  Documents with no span pass through with their
    normalized text intact (the scrub is defined in normalized space;
    raw inter-token whitespace is already gone).

    Output: (id_col, n_chars, n_dropped_chars, clean_text)."""
    spans = char_exact_spans(
        df,
        text_col,
        min_tokens=min_tokens,
        min_count=min_count,
        id_col=id_col,
        max_ext=max_ext,
    ).select(
        id_col,
        F.col("char_exact_start").alias("__s"),
        F.col("char_exact_end").alias("__e"),
    )
    # per-doc interval merge: a range starts a new group iff it begins
    # after the running max end of everything before it
    w = Window.partitionBy(id_col).orderBy("__s", "__e")
    prev_max = F.max("__e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    grouped = spans.withColumn(
        "__ng", F.when(prev_max.isNull() | (F.col("__s") > prev_max), 1).otherwise(0)
    ).withColumn(
        "__grp",
        F.sum("__ng").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    merged = grouped.groupBy(id_col, "__grp").agg(
        F.min("__s").alias("__s"), F.max("__e").alias("__e")
    )
    ivs = merged.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("__s", "__e"))).alias("__ivs"),
        F.sum(F.col("__e") - F.col("__s") + 1).alias("__dropped"),
    )
    toks = with_tokens(df.select(id_col, text_col), text_col, "__toks")
    joined = toks.withColumn(
        # NULL text tokenizes to a NULL array -> empty normalized text
        "__norm",
        F.coalesce(F.expr("array_join(__toks, ' ')"), F.lit("")),
    ).join(ivs, id_col, "left")
    # fold sorted disjoint intervals into the kept text: carry (next
    # uncut position, accumulated string); finish with the tail
    cut = (
        "aggregate(coalesce(__ivs, array()), "
        "named_struct('p', CAST(1 AS BIGINT), 'a', ''), "
        "(acc, iv) -> named_struct("
        "'p', iv.__e + 1, "
        "'a', concat(acc.a, substr(__norm, CAST(acc.p AS INT), CAST(iv.__s - acc.p AS INT)))), "
        "acc -> concat(acc.a, substr(__norm, CAST(acc.p AS INT))))"
    )
    return joined.select(
        id_col,
        F.length("__norm").cast("long").alias("n_chars"),
        F.coalesce(F.col("__dropped"), F.lit(0)).cast("long").alias("n_dropped_chars"),
        F.expr(cut).alias("clean_text"),
    )


def _kmv_global_topk(rows: DataFrame, k: int) -> DataFrame:
    """Shard-then-fold global k-smallest for the UNGROUPED sketch paths
    (kmv_sketch with no group_cols): each input partition
    keeps its own k smallest ``__h`` via a per-shard window (parallel,
    spill-able -- the shard key is ``spark_partition_id()``, so no task
    ever sorts more than its own partition), then one bounded global fold
    over <= k rows PER SHARD assembles the final sketch with a
    partial-aggregatable collect_list.  No single-partition window
    anywhere in the plan; the only single-task step is the final merge of
    <= k * num_shuffle_partitions longs (k=64 x 10k partitions = 640k
    values worst case -- bounded by config, not by data).  Bit-identical
    to a global ``row_number() <= k`` because the k smallest of a set is
    the k smallest of the union of per-shard k-smallest (KMV's
    mergeability, property-tested)."""
    shard = rows.withColumn("__shard", F.spark_partition_id())
    w = Window.partitionBy("__shard").orderBy("__h")
    pruned = (
        shard.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select("__h")
    )
    agg = pruned.agg(F.sort_array(F.collect_list("__h")).alias("__all"))
    out = agg.select(
        F.slice("__all", 1, k).alias("sketch"),
        F.least(F.size("__all"), F.lit(k)).cast("long").alias("n_sketch"),
    )
    est = F.when(F.col("n_sketch") < k, F.col("n_sketch")).otherwise(
        F.expr(
            f"CAST(({k} - 1) AS BIGINT) * CAST(shiftleft(CAST(1 AS BIGINT), 52) AS BIGINT)"
            " div element_at(sketch, CAST(size(sketch) AS INT))"
        )
    )
    return out.select("sketch", "n_sketch", est.cast("long").alias("est_distinct"))


def kmv_sketch(
    df: DataFrame,
    col: str,
    *,
    k: int = 64,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """K-minimum-values distinct-count sketch (Bar-Yossef et al. 2002;
    the Theta-sketch core): per group, the ``k`` smallest 60-bit
    md5-derived hashes of the value set, plus the unbiased estimate
    est = (k - 1) * 2^52 / h_k (exact count when fewer than k distinct
    values exist).  Unlike HLL (whose register layout is library-
    specific), KMV is DETERMINISTIC and engine-replayable -- the DuckDB
    oracle reproduces the sketch hash-for-hash -- and MERGEABLE: the
    sketch of a union is the k smallest of the concatenated sketches
    (property-tested), which is what lets 1000 executors sketch their
    shards independently and a coordinator fold the results.

    Plan shape: one distinct on (group, hash) -- the only wide shuffle --
    then a row_number window over the SAME partitioning (Catalyst reuses
    the exchange) keeps the k smallest.  The UNGROUPED path (group_cols
    empty) never funnels through a single-partition window: it sketches
    per ``spark_partition_id()`` shard and folds the <= k-per-shard
    survivors with a bounded global aggregate (see _kmv_global_topk) --
    bit-identical by KMV mergeability.  At 100 TB a deployment
    pre-filters ``h < threshold`` from a prior estimate before the
    distinct so the shuffle carries ~k rows per group, not the value
    universe; the algebra is unchanged.

    Output: (group_cols..., sketch array<bigint> ascending, n_sketch,
    est_distinct bigint)."""
    if not (2 <= k <= 2048):
        # (k-1) * 2^52 fits int64 only for k <= 2048; beyond that the
        # estimate numerator silently overflows
        raise ValueError(f"k must be in [2, 2048], got {k}")
    group_cols = group_cols or []
    h = F.expr(
        # 52-bit hash space: (k-1) * 2^52 stays inside int64 for k <= 2048
        # (15 hex chars = 60 bits would overflow the estimate numerator)
        f"CAST(conv(substr(md5(CAST({col} AS STRING)), 1, 13), 16, 10) AS BIGINT)"
    )
    distinct = df.select(*group_cols, h.alias("__h")).where(F.col("__h").isNotNull()).distinct()
    if not group_cols:
        # ungrouped: shard-then-fold -- never a single-partition window
        return _kmv_global_topk(distinct, k)
    w = Window.partitionBy(*group_cols).orderBy("__h")
    topk = distinct.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") <= k)
    agg = topk.groupBy(*group_cols).agg(
        F.sort_array(F.collect_list("__h")).alias("sketch"),
        F.count(F.lit(1)).cast("long").alias("n_sketch"),
        F.max("__h").alias("__hk"),
    )
    est = F.when(
        F.col("n_sketch") < k, F.col("n_sketch").cast("long")
    ).otherwise(F.expr(f"CAST(({k} - 1) AS BIGINT) * CAST(shiftleft(CAST(1 AS BIGINT), 52) AS BIGINT) div __hk"))
    return agg.select(*group_cols, "sketch", "n_sketch", est.alias("est_distinct"))


def kmv_overlap(
    df: DataFrame,
    col: str,
    group_col: str,
    *,
    k: int = 64,
) -> DataFrame:
    """Pairwise distinct-set OVERLAP estimation between groups from KMV
    sketches -- the Theta-sketch set algebra (union / intersection /
    Jaccard over sketches, Dasgupta et al. 2016) on the deterministic
    52-bit md5 space of :func:`kmv_sketch`: for every group pair, the
    union sketch U is the k smallest hashes of the two groups' sketches
    combined, ``n_common`` counts U members present in BOTH sketches, and

        est_jaccard_e6 = 1e6 * n_common / |U|
        est_inter      = n_common * est_union / |U|

    -- the standard KMV estimators, exact-integer and engine-replayable
    (the oracle reproduces every estimate value-for-value; an HLL-based
    overlap would need inclusion-exclusion over three +-2%% estimates and
    could not be hash-gated).  The cross-source audience/user-overlap
    matrix at 100 TB: each group is sketched once (one distinct shuffle),
    pairs operate on k-row sketches -- G^2 * k sketch rows, never data.

    Output: (g_a, g_b, n_union_sketch, est_union, n_common, est_inter,
    est_jaccard_e6), one row per unordered group pair (g_a < g_b)."""
    if not (2 <= k <= 2048):
        raise ValueError(f"k must be in [2, 2048], got {k}")
    h = F.expr(
        f"CAST(conv(substr(md5(CAST({col} AS STRING)), 1, 13), 16, 10) AS BIGINT)"
    )
    d = (
        df.select(F.col(group_col).alias("g"), h.alias("h"))
        .where(F.col("h").isNotNull())
        .distinct()
    )
    w = Window.partitionBy("g").orderBy("h")
    sk = d.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") <= k).select("g", "h")
    gs = sk.select("g").distinct()
    prs = (
        gs.select(F.col("g").alias("g_a"))
        .join(gs.select(F.col("g").alias("g_b")))
        .where(F.col("g_a") < F.col("g_b"))
    )
    ua = prs.join(sk.select(F.col("g").alias("g_a"), "h"), "g_a")
    ub = prs.join(sk.select(F.col("g").alias("g_b"), "h"), "g_b")
    u = ua.select("g_a", "g_b", "h").unionByName(ub.select("g_a", "g_b", "h")).distinct()
    wu = Window.partitionBy("g_a", "g_b").orderBy("h")
    uk = u.withColumn("__rn", F.row_number().over(wu)).where(F.col("__rn") <= k)
    in_a = sk.select(F.col("g").alias("g_a"), "h", F.lit(1).alias("__ia"))
    in_b = sk.select(F.col("g").alias("g_b"), "h", F.lit(1).alias("__ib"))
    marked = (
        uk.join(in_a, ["g_a", "h"], "left")
        .join(in_b, ["g_b", "h"], "left")
        .select(
            "g_a", "g_b", "h",
            (F.coalesce("__ia", F.lit(0)) * F.coalesce("__ib", F.lit(0))).alias("__both"),
        )
    )
    agg = marked.groupBy("g_a", "g_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_union_sketch"),
        F.max("h").alias("__hk"),
        F.sum("__both").cast("long").alias("n_common"),
    )
    est_union = F.when(
        F.col("n_union_sketch") < k, F.col("n_union_sketch")
    ).otherwise(
        F.expr(f"CAST(({k} - 1) AS BIGINT) * CAST(shiftleft(CAST(1 AS BIGINT), 52) AS BIGINT) div __hk")
    )
    return agg.withColumn("est_union", est_union.cast("long")).select(
        "g_a",
        "g_b",
        "n_union_sketch",
        "est_union",
        "n_common",
        F.expr("(n_common * est_union) div n_union_sketch").alias("est_inter"),
        F.expr("(1000000 * n_common) div n_union_sketch").alias("est_jaccard_e6"),
    )


def pmi_collocations(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Collocation mining by pointwise mutual information (Church & Hanks
    1990): score each adjacent token pair by how much more often it
    occurs than its parts predict, PMI = log2(N * c(a,b) / (c_first(a) *
    c_second(b))) over bigram positions, and return the top-k pairs with
    at least ``min_count`` occurrences -- the lexicon pass that surfaces
    multi-word terms before phrase-aware tokenization or dedup.

    Exact integer arithmetic: the log2 runs through the fp20 fixed-point
    recurrence (ilog2_fp20_sql) on the integer products N*c_ab and
    c_a*c_b (both < 2^63 for corpora up to ~10^9 bigrams with capped
    pair counts), so the score is engine-portable bit-for-bit and CAN be
    negative (pairs rarer than chance).

    Shape: one tokenize pass -> bigram explode -> one groupBy(a, b) with
    map-side partial aggregation; the marginal tables c_first / c_second
    are vocabulary-sized aggregates broadcast back onto the pair table;
    top-k is TakeOrderedAndProject.  Nothing driver-side except the
    single N scalar."""
    from odp_dynamic_data_pipeline_spark.functions.scalars import ilog2_fp20_sql
    from odp_dynamic_data_pipeline_spark.operators.partitioning import ensure_min_parallelism

    toks = f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)"
    bigrams = (
        f"CASE WHEN size({toks}) < 2 THEN array() ELSE zip_with("
        f" slice({toks}, 1, size({toks}) - 1), slice({toks}, 2, size({toks}) - 1),"
        f" (a, b) -> struct(a, b)) END"
    )
    bg = ensure_min_parallelism(df.select(id_col, text_col)).select(
        F.explode(F.expr(bigrams)).alias("__bg")
    ).select(F.col("__bg.a").alias("a"), F.col("__bg.b").alias("b"))

    pairs = bg.groupBy("a", "b").agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    firsts = pairs.groupBy("a").agg(F.sum("n_ab").cast("long").alias("n_a"))
    seconds = pairs.groupBy("b").agg(F.sum("n_ab").cast("long").alias("n_b"))
    n_row = pairs.agg(F.sum("n_ab").cast("long").alias("n")).first()
    n_bigrams = int(n_row["n"]) if n_row["n"] is not None else 0

    scored = (
        pairs.where(F.col("n_ab") >= min_count)
        .join(F.broadcast(firsts), "a")
        .join(F.broadcast(seconds), "b")
        .withColumn(
            "pmi_fp20",
            (
                F.expr(ilog2_fp20_sql(f"{n_bigrams} * n_ab"))
                - F.expr(ilog2_fp20_sql("n_a * n_b"))
            ).cast("long"),
        )
        .select("a", "b", "n_ab", "n_a", "n_b", "pmi_fp20")
    )
    return scored.orderBy(
        F.col("pmi_fp20").desc(), F.col("a").asc(), F.col("b").asc()
    ).limit(k)
