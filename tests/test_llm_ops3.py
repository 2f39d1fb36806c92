"""Round-3 LLM-data operators: semantic dedup (SemDeDup), repeated-span
stats, temperature mixture weights."""

from __future__ import annotations

import math

from odp_dynamic_data_pipeline_spark.operators.similarity import semantic_dedup
from odp_dynamic_data_pipeline_spark.operators.text import mixture_weights, shared_span_stats


def _emb_df(spark):
    # ids 0-3 are the 4 distinct directions (= the deterministic first-k
    # seeds); ids 4-7 are near-duplicates of them; dim 4
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.0, 1.0, 0.0, 0.0], 1),
        (2, [0.0, 0.0, 1.0, 0.0], 2),
        (3, [0.0, 0.0, 0.0, 1.0], 3),
        (4, [0.99, 0.01, 0.0, 0.0], 0),
        (5, [0.98, 0.0, 0.01, 0.0], 0),
        (6, [0.01, 0.99, 0.0, 0.0], 1),
        (7, [0.0, 0.01, 0.99, 0.0], 2),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_semantic_dedup_marks_cluster_mates(spark):
    out = semantic_dedup(_emb_df(spark), k=4, iters=2, threshold=0.9).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert len(by_id) == 8  # one row per input vector
    # every cluster's lowest-id member is kept (keep-first policy)
    clusters: dict[int, list[int]] = {}
    for r in out:
        clusters.setdefault(r["cluster_id"], []).append(r["vec_id"])
    for members in clusters.values():
        assert by_id[min(members)]["is_dup"] == 0
    # near-duplicates of a lower-id vector land in its cluster and are marked
    for dup, keeper in ((4, 0), (5, 0), (6, 1), (7, 2)):
        assert by_id[dup]["cluster_id"] == by_id[keeper]["cluster_id"]
        assert by_id[dup]["is_dup"] == 1, dup
    # the four direction archetypes are all kept
    for keeper in (0, 1, 2, 3):
        assert by_id[keeper]["is_dup"] == 0


def test_semantic_dedup_threshold_above_one_keeps_all(spark):
    out = semantic_dedup(_emb_df(spark), k=4, iters=1, threshold=1.1).collect()
    assert all(r["is_dup"] == 0 for r in out)


def test_shared_span_stats_known_overlap(spark):
    prefix = " ".join(f"s{i}" for i in range(8))  # one exact 8-token span
    rows = [
        (1, prefix + " aa bb"),          # spans: 3 (starts 1..3), 1 shared
        (2, prefix + " cc dd ee"),       # spans: 4, 1 shared
        (3, "zz yy xx ww vv uu tt ss"),  # 1 span, unshared
        (4, "too short"),                # < 8 tokens -> excluded
    ]
    out = {r["doc_id"]: r for r in shared_span_stats(
        spark.createDataFrame(rows, "doc_id long, text string"), span_tokens=8
    ).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["n_spans"] == 3 and out[1]["n_shared_spans"] == 1
    assert out[2]["n_spans"] == 4 and out[2]["n_shared_spans"] == 1
    assert out[3]["n_spans"] == 1 and out[3]["n_shared_spans"] == 0
    assert out[1]["shared_frac_e6"] == 1_000_000 // 3
    assert out[3]["shared_frac_e6"] == 0


def test_mixture_weights_sqrt_shares(spark):
    rows = [("en", "a b c")] * 9 + [("fr", "d e")] * 4 + [("de", "f")]
    out = {r["lang"]: r for r in mixture_weights(
        spark.createDataFrame(rows, "lang string, text string")
    ).collect()}
    # weight_e3 = floor(sqrt(n * 1e6)): 9 -> 3000, 4 -> 2000, 1 -> 1000
    assert out["en"]["weight_e3"] == 3000
    assert out["fr"]["weight_e3"] == 2000
    assert out["de"]["weight_e3"] == 1000
    total = 6000
    for lang, n in (("en", 9), ("fr", 4), ("de", 1)):
        r = out[lang]
        assert r["n_docs"] == n
        assert r["share_e6"] == 1_000_000 * r["weight_e3"] // total
        assert r["oversample_e6"] == r["share_e6"] * 14 // n
    assert out["en"]["n_tokens"] == 27 and out["de"]["n_tokens"] == 1
    # low-resource groups are oversampled relative to their natural share
    assert out["de"]["oversample_e6"] > 1_000_000 > out["en"]["oversample_e6"]
    # sanity: the exact-integer weights match the analytic alpha=0.5 rule
    for lang, n in (("en", 9), ("fr", 4), ("de", 1)):
        assert out[lang]["weight_e3"] == math.floor(math.sqrt(n * 1_000_000))


def test_span_novelty_prefix_ordering(spark):
    from odp_dynamic_data_pipeline_spark.operators.text import span_novelty

    shared = " ".join(f"s{i}" for i in range(8))
    rows = [
        (1, shared + " aa"),   # 2 spans, both first seen here -> fully novel
        (2, shared + " bb"),   # 2 spans: inherited prefix + 1 novel
        (3, shared),           # 1 span, wholly inherited -> zero novelty
    ]
    out = {r["doc_id"]: r for r in span_novelty(
        spark.createDataFrame(rows, "doc_id long, text string"), span_tokens=8
    ).collect()}
    assert out[1]["n_novel_spans"] == 2 and out[1]["novelty_e6"] == 1_000_000
    assert out[2]["n_novel_spans"] == 1 and out[2]["novelty_e6"] == 500_000
    assert out[3]["n_novel_spans"] == 0 and out[3]["novelty_e6"] == 0


def test_bpe_merge_step_weighted_pairs(spark):
    from odp_dynamic_data_pipeline_spark.operators.text import bpe_merge_step

    # "abab" x3 -> pairs ab(x2*3=6), ba(x1*3=3); "abc" x2 -> ab+2, bc+2
    rows = [(1, "abab abab abab"), (2, "abc abc")]
    out = bpe_merge_step(
        spark.createDataFrame(rows, "doc_id long, text string"), top_k=3
    ).collect()
    got = [(r["pair"], r["pair_count"], r["rank"]) for r in out]
    assert got == [("ab", 8, 1), ("ba", 3, 2), ("bc", 2, 3)]


def test_shard_assignment_deterministic(spark):
    from odp_dynamic_data_pipeline_spark.operators.text import shard_assignment

    df = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    a = sorted(map(tuple, shard_assignment(df, seed=7, n_shards=4).collect()))
    b = sorted(map(tuple, shard_assignment(df, seed=7, n_shards=4).collect()))
    assert a == b                                 # reproducible
    shards = {t[1] for t in a}
    assert shards <= set(range(4)) and len(shards) == 4
    # positions are a 1..k dense sequence within each shard
    from collections import defaultdict
    per = defaultdict(list)
    for _, s, p in a:
        per[s].append(p)
    for s, ps in per.items():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    # a different seed produces a different permutation
    c = sorted(map(tuple, shard_assignment(df, seed=8, n_shards=4).collect()))
    assert a != c


def test_zipf_coverage_monotone_head(spark):
    from odp_dynamic_data_pipeline_spark.operators.text import zipf_coverage

    rows = [(1, "a a a a b b b c c d")]
    out = zipf_coverage(
        spark.createDataFrame(rows, "doc_id long, text string"), top_k=3
    ).orderBy("rank").collect()
    assert [(r["rank"], r["token"], r["n"], r["cum_n"]) for r in out] == [
        (1, "a", 4, 4), (2, "b", 3, 7), (3, "c", 2, 9)
    ]
    assert out[-1]["coverage_e6"] == 900_000


def test_hashed_linear_score_mean_weight(spark):
    from odp_dynamic_data_pipeline_spark.operators.text import hashed_linear_score
    import hashlib

    def w(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 2001 - 1000

    rows = [(1, "foo bar foo"), (2, "")]
    out = {r["doc_id"]: r for r in hashed_linear_score(
        spark.createDataFrame(rows, "doc_id long, text string")
    ).collect()}
    exp = 2 * w("foo") + w("bar")
    assert out[1]["score_sum"] == exp
    # Spark's div truncates toward zero, like Python's int() on the float
    assert out[1]["score_e6"] == int(1_000_000 * exp / 3)
    assert 2 not in out                           # empty docs filtered


def test_winnow_shared_run_guarantee(spark):
    """Winnowing guarantee: any shared token run of >= w+k-1 tokens yields
    at least one common selected fingerprint; disjoint docs yield none."""
    from odp_dynamic_data_pipeline_spark.operators.dedup import winnow_fingerprints

    shared = " ".join(f"s{i}" for i in range(8))  # w+k-1 = 8 with k=4, w=5
    rows = [
        (1, "p1 p2 p3 p4 " + shared + " q1 q2"),
        (2, shared + " r1 r2 r3 r4 r5"),
        (3, " ".join(f"z{i}" for i in range(12))),  # disjoint vocabulary
    ]
    out = winnow_fingerprints(
        spark.createDataFrame(rows, "doc_id long, text string"), k=4, w=5
    ).collect()
    by_doc: dict[int, set] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared 8-token run must share a print"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    # density: far fewer prints than grams (selection actually thins)
    for d, (_, t) in zip((1, 2, 3), rows):
        n_grams = len(t.split()) - 3
        assert len(by_doc[d]) < n_grams


def test_bigram_surprisal_conditional_bits(spark):
    from odp_dynamic_data_pipeline_spark.operators.text import bigram_surprisal

    # corpus bigrams: (a,b) x2, (b,a) x1, (a,c) x1 -> c1(a)=3, c1(b)=1
    rows = [(1, "a b a c"), (2, "a b")]
    out = {r["doc_id"]: r for r in bigram_surprisal(
        spark.createDataFrame(rows, "doc_id long, text string")
    ).collect()}
    # bits(x) = floor(log2(x)) + 1
    # doc1: (a,b): 3//2=1 -> 1 bit; (b,a): 1//1=1 -> 1; (a,c): 3//1=3 -> 2
    assert out[1]["n_bigrams"] == 3 and out[1]["surprisal_bits"] == 4
    assert out[1]["mean_surprisal_e3"] == 4000 // 3
    # doc2: (a,b) -> 1 bit
    assert out[2]["n_bigrams"] == 1 and out[2]["surprisal_bits"] == 1


def test_token_drift_hand_computed(spark, tmp_path):
    """Two-source corpus with integer-ppm drift computed by hand."""
    from odp_dynamic_data_pipeline_spark.queries import SPARK_QUERIES

    rows = [(1, "a a b", "en", "A", 5), (2, "a c", "en", "B", 3)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["source"]: r
        for r in SPARK_QUERIES["token_drift_by_source"](spark, str(tmp_path)).collect()
    }
    # global: a 3/5 (600000 ppm), b 1/5 (200000), c 1/5 (200000)
    # A (3 tokens): a 666666, diff 66666; b 333333, diff 133333
    assert out["A"]["n_tokens_distinct"] == 2
    assert out["A"]["drift_l1_e6"] == 66666 + 133333
    assert out["A"]["max_token_drift_e6"] == 133333
    # B (2 tokens): a 500000, diff 100000; c 500000, diff 300000
    assert out["B"]["drift_l1_e6"] == 100000 + 300000
    assert out["B"]["max_token_drift_e6"] == 300000


def test_corpus_queries_survive_empty_input(spark, tmp_path):
    """A fresh (empty) corpus partition must not crash the curation
    reports -- no div-by-zero, no None explosions in the plans."""
    from odp_dynamic_data_pipeline_spark.queries import SPARK_QUERIES

    spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    for name in [
        "token_drift_by_source",
        "oov_rate_report",
        "filter_ablation_report",
        "token_budget_allocation",
    ]:
        rows = SPARK_QUERIES[name](spark, str(tmp_path)).collect()
        assert rows == [] or all(r["lang"] is not None for r in rows), name
    # global aggregates return a well-formed zero row, not DIVIDE_BY_ZERO
    corr = SPARK_QUERIES["quality_signal_correlation"](spark, str(tmp_path)).collect()
    assert len(corr) == 1 and corr[0]["n_docs"] == 0


def test_token_budget_degenerate_all_empty(spark, tmp_path):
    """All-empty documents (total weight 0): quotas degrade to zero
    instead of an ANSI divide-by-zero job failure."""
    from odp_dynamic_data_pipeline_spark.queries import SPARK_QUERIES

    spark.createDataFrame(
        [(1, "", "en", "A", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = SPARK_QUERIES["token_budget_allocation"](spark, str(tmp_path)).collect()
    assert [(r["quota_tokens"], r["epochs_e3"]) for r in out] == [(0, 0)]


def test_duplicate_spans_crafted(spark):
    """Crafted corpus: the shared 10-token run between docs 1 and 2 must
    come back as ONE merged span per doc covering exactly the run (three
    overlapping 8-windows merged), unique text must produce no span, and a
    doc sharing two disjoint runs must get two spans."""
    from odp_dynamic_data_pipeline_spark.operators.dedup import duplicate_spans

    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    run2 = "kilo lima mike november oscar papa quebec romeo"
    docs = spark.createDataFrame(
        [
            (1, f"one two {shared} three four"),
            (2, f"{shared} five six seven eight nine"),
            (3, "totally unique words that appear nowhere else at all ok"),
            (4, f"start {run2} middle filler words here and then {shared} end"),
            (5, f"pre {run2} post padding padding2 padding3 padding4"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["span_start"], r["span_end"]): r["n_windows"]
        for r in duplicate_spans(docs, window=8).collect()
    }
    # doc 1: shared run occupies tokens 3..12 -> windows at 3,4,5 merge to [3,12]
    assert (1, 3, 12) in out and out[(1, 3, 12)] == 3
    # doc 2: run at tokens 1..10 -> [1,10]
    assert (2, 1, 10) in out and out[(2, 1, 10)] == 3
    # doc 3: no duplicated window
    assert not any(k[0] == 3 for k in out)
    # doc 4: two DISJOINT spans (run2 at 2..9, shared at 16..25)
    d4 = sorted((k[1], k[2]) for k in out if k[0] == 4)
    assert d4 == [(2, 9), (16, 25)]
    # doc 5: run2 at 2..9
    assert (5, 2, 9) in out


def test_duplicate_spans_random_vs_reference(spark):
    """duplicate_spans == a pure-Python reference (window hashes ->
    cross-doc duplicate set -> interval merge) on deterministic random
    corpora over a tiny alphabet (forces shared windows)."""
    import random

    from odp_dynamic_data_pipeline_spark.operators.dedup import duplicate_spans

    rng = random.Random(11)
    L = 4
    for trial in range(5):
        docs = []
        for i in range(rng.randint(2, 12)):
            n = rng.randint(0, 14)
            docs.append((i, " ".join(rng.choice("xy") for _ in range(n))))
        # reference: windows keyed by the joined token string itself (the
        # md5 in the operator is injective up to collisions ~2^-60)
        win = {}
        for doc_id, text in docs:
            toks = text.split()
            for p in range(len(toks) - L + 1):
                win.setdefault(" ".join(toks[p : p + L]), set()).add(doc_id)
        dup_pos = {}
        for doc_id, text in docs:
            toks = text.split()
            for p in range(len(toks) - L + 1):
                if len(win[" ".join(toks[p : p + L])]) >= 2:
                    dup_pos.setdefault(doc_id, []).append(p + 1)
        expected = set()
        for doc_id, ps in dup_pos.items():
            start = prev = ps[0]
            nwin = 1
            for p in ps[1:]:
                if p > prev + L - 1:
                    expected.add((doc_id, start, prev + L - 1, nwin))
                    start, nwin = p, 0
                prev = p
                nwin += 1
            expected.add((doc_id, start, prev + L - 1, nwin))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
            for r in duplicate_spans(df, window=L).collect()
        }
        assert got == expected, f"trial {trial}: {got ^ expected}"


def test_scrub_duplicate_spans_keeper_semantics(spark):
    """ExactSubstr application: the LOWEST doc sharing a window keeps its
    text untouched; every other occurrence is cut; unique text survives
    everywhere; a doc can be keeper for one run and cutter for another."""
    from odp_dynamic_data_pipeline_spark.operators.dedup import scrub_duplicate_spans

    shared = "a1 a2 a3 a4 a5 a6 a7 a8"          # one exact window
    other = "b1 b2 b3 b4 b5 b6 b7 b8"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} tail1 tail2"),
            (2, f"head1 {shared} tail3"),
            (3, f"{other} mid {shared}"),
            (4, f"{other} unique4"),
            (5, "nothing shared here at all in this one doc"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in scrub_duplicate_spans(docs, window=8).collect()}
    # doc 1 is keeper of `shared`: untouched
    assert out[1]["n_cut"] == 0 and out[1]["scrubbed_text"].startswith("a1 a2")
    # doc 2 loses the shared window, keeps its own words
    assert out[2]["n_cut"] == 8
    assert out[2]["scrubbed_text"] == "head1 tail3"
    # doc 3 is keeper of `other` (vs doc 4) but cutter of `shared`
    assert out[3]["n_cut"] == 8
    assert out[3]["scrubbed_text"] == f"{other} mid"
    # doc 4 loses `other`
    assert out[4]["scrubbed_text"] == "unique4"
    # doc 5 untouched
    assert out[5]["n_cut"] == 0 and out[5]["n_tokens"] == 9
