"""Unit tests for the hard-part operator semantics (SURVEY.md section 7):
P2 last-wins, P3 collision-overwrite, J5/J6 multiplicity, P1 nested
dot-path."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from odp_dynamic_data_pipeline_spark.operators.aggregate import conditional_counts
from odp_dynamic_data_pipeline_spark.operators.correlate import (
    correlate_events_logs,
    explode_spans,
)
from odp_dynamic_data_pipeline_spark.operators.enrich import enrich
from odp_dynamic_data_pipeline_spark.operators.mappings import extract_mapping


def test_enrich_collision_overwrite(spark):
    """Mapping value must win on name collision (reference dict.update,
    src/data_processor.py:112); misses pass through unchanged."""
    base = spark.createDataFrame(
        [("t1", "old1"), ("t2", "old2"), ("t3", None)], "traceId string, clientId string"
    )
    mapping = spark.createDataFrame([("t1", "new1")], "traceId string, clientId string")
    out = {r["traceId"]: r["clientId"] for r in enrich(base, mapping, "traceId").collect()}
    assert out == {"t1": "new1", "t2": "old2", "t3": None}


def test_enrich_adds_new_columns(spark):
    base = spark.createDataFrame([("s1",), ("s9",)], "spanId string")
    mapping = spark.createDataFrame(
        [("s1", "t1", "c1")], "spanId string, traceId string, clientId string"
    )
    rows = {r["spanId"]: (r["traceId"], r["clientId"]) for r in enrich(base, mapping, "spanId").collect()}
    assert rows == {"s1": ("t1", "c1"), "s9": (None, None)}


def test_extract_mapping_last_wins(spark):
    """Duplicate keys keep the LAST occurrence in order (reference:
    src/data_processor.py:153)."""
    df = spark.createDataFrame(
        [(1, "t1", "c1"), (2, "t1", "c2"), (3, "t2", "c3"), (4, None, "c4"), (5, "t3", None)],
        "ord long, traceId string, clientId string",
    )
    out = extract_mapping(df, "traceId", ["clientId"], order_col="ord")
    assert {(r["key"], r["clientId"]) for r in out.collect()} == {("t1", "c2"), ("t2", "c3")}


def test_extract_mapping_explodes_array_path(spark):
    """A key path through an array yields one entry per element (reference:
    src/data_processor.py:133-134, yaml spans.spanId)."""
    df = spark.createDataFrame(
        [("t1", [{"spanId": "s1"}, {"spanId": "s2"}], "c1")],
        "traceId string, spans array<struct<spanId:string>>, clientId string",
    )
    out = extract_mapping(df, "spans.spanId", ["traceId", "clientId"])
    assert {(r["key"], r["traceId"], r["clientId"]) for r in out.collect()} == {
        ("s1", "t1", "c1"),
        ("s2", "t1", "c1"),
    }


def test_correlate_multiplicity(spark):
    """N events on one trace count that trace's logs N times -- do NOT dedup
    (reference probe loop, src/batch_tlb.py:65-77)."""
    events = spark.createDataFrame(
        [("e1", "c1", "t1"), ("e2", "c1", "t1")], "eventId string, clientId string, traceId string"
    )
    traces = spark.createDataFrame(
        [("t1", [{"spanId": "s1", "server": "w", "log": "x"}])],
        "traceId string, spans array<struct<spanId:string,server:string,log:string>>",
    )
    logs = spark.createDataFrame(
        [("l1", "s1", "RETRY"), ("l2", "s1", "INFO")], "logId string, spanId string, eventType string"
    )
    out = correlate_events_logs(events, traces, logs)
    assert out.count() == 4  # 2 events x 2 logs through the same span
    retry = out.where(F.col("eventType") == "RETRY").count()
    assert retry == 2  # multiplicity preserved


def test_explode_spans(spark):
    traces = spark.createDataFrame(
        [("t1", [{"spanId": "s1", "server": "w", "log": "x"}, {"spanId": "s2", "server": "w", "log": "y"}])],
        "traceId string, spans array<struct<spanId:string,server:string,log:string>>",
    )
    assert {(r["traceId"], r["spanId"]) for r in explode_spans(traces).collect()} == {
        ("t1", "s1"),
        ("t1", "s2"),
    }


def test_conditional_counts(spark):
    df = spark.createDataFrame(
        [("c1", "RETRY"), ("c1", "RETRY"), ("c1", "INFO"), ("c2", "ERROR")],
        "clientId string, eventType string",
    )
    out = conditional_counts(
        df,
        "clientId",
        {"retry_count": F.col("eventType") == "RETRY", "error_count": F.col("eventType") == "ERROR"},
    )
    rows = {r["clientId"]: (r["retry_count"], r["error_count"]) for r in out.collect()}
    assert rows == {"c1": (2, 0), "c2": (0, 1)}


def test_minhash_lsh_bucket_cap(spark):
    """A boilerplate cluster (many identical docs) must not explode
    candidate generation when the bucket cap is set: capped run drops the
    degenerate bucket's pairs; distinct near-dup pairs still surface
    through their other bands."""
    from odp_dynamic_data_pipeline_spark.operators.dedup import minhash_lsh_pairs

    boiler = [(i, "the same boilerplate page body repeated everywhere") for i in range(30)]
    near = [
        (100, "alpha beta gamma delta epsilon zeta eta theta"),
        (101, "alpha beta gamma delta epsilon zeta eta iota"),
    ]
    df = spark.createDataFrame(boiler + near, "doc_id long, text string")
    uncapped = minhash_lsh_pairs(df, "doc_id", threshold_e6=400_000)
    capped = minhash_lsh_pairs(df, "doc_id", threshold_e6=400_000, max_bucket_size=10)
    n_unc = uncapped.count()
    pairs_capped = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert n_unc >= 30 * 29 / 2  # the boilerplate clique fully pairs
    assert all(a >= 100 for a, b in pairs_capped), pairs_capped  # clique suppressed
    assert (100, 101) in pairs_capped  # real near-dup survives via its bands


def test_minhash_band_buckets_match_the_fold_formula(spark):
    """The code-generated band buckets equal, value for value, the
    array-fold formula they replaced, kept here as the oracle: a drift in
    the signatures can change the candidates and still verify to the same
    pairs on small data, so the (id, band, bucket) rows are pinned
    themselves.  Runs on the sf0.001 documents plus one document of
    exactly n tokens (8 buckets) and one of fewer than n (none)."""
    from odp_dynamic_data_pipeline_spark.operators.dedup import (
        hashed_shingles_direct,
        minhash_band_buckets,
    )
    from odp_dynamic_data_pipeline_spark.sources.catalog import load_table
    from tests.conftest import SF_SMOKE

    n, num_perm, bands = 3, 32, 8
    r = num_perm // bands
    exact_n, short = 10**12, 10**12 + 1
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    edge = spark.createDataFrame(
        [(exact_n, "exactly three tokens"), (short, "two tokens")], "doc_id long, text string"
    )
    hashed = hashed_shingles_direct(docs.unionByName(edge), "doc_id", n=n)
    got = sorted(
        map(tuple, minhash_band_buckets(hashed, "doc_id", num_perm=num_perm, bands=bands).collect())
    )

    fold = F.expr(
        f"aggregate(hsh, array_repeat(CAST(9223372036854775807 AS BIGINT), {num_perm}),"
        f" (acc, h) -> zip_with(acc, sequence(0, {num_perm - 1}),"
        f" (m, i) -> least(m, xxhash64(i, h))))"
    )
    sig = hashed.select("doc_id", fold.alias("sig"))
    band_cols = [
        F.xxhash64(F.lit(b), *[F.col("sig").getItem(i) for i in range(b * r, (b + 1) * r)])
        for b in range(bands)
    ]
    want = sorted(
        map(tuple, sig.select("doc_id", F.posexplode(F.array(*band_cols))).collect())
    )
    assert got == want
    per_doc = Counter(d for d, _, _ in got)
    assert per_doc[exact_n] == bands and short not in per_doc
    assert len(per_doc) > 20 and set(per_doc.values()) == {bands}


def test_audio_segments_overlap(spark):
    """1s windows every 750ms at 8 bytes/ms: a 20000-byte payload (2500ms)
    covers starts 0/750/1500/2250ms; windows are width-8000 with the tail
    truncated."""
    from pyspark.sql import functions as F

    from odp_dynamic_data_pipeline_spark.operators.multimodal import audio_segments

    df = spark.createDataFrame([(1, "x" * 21000)], "doc_id long, text string").withColumn(
        "payload", F.encode("text", "UTF-8")
    )
    rows = sorted(audio_segments(df).collect(), key=lambda r: r["seg_idx"])
    # 21000 bytes = 2625ms: ceil((21000-8000)/6000)+1 = 4 windows, every
    # byte covered, tail truncated
    assert [(r["seg_idx"], r["seg_start_ms"], r["seg_len"]) for r in rows] == [
        (0, 0, 8000), (1, 750, 8000), (2, 1500, 8000), (3, 2250, 3000),
    ]


def test_jaccard_join_exact_no_false_negatives(spark):
    from odp_dynamic_data_pipeline_spark.operators.dedup import jaccard_join

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base + " lambda"          # shares most 3-gram shingles with base
    far = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    out = jaccard_join(df, n=3, tau_e6=500_000).collect()
    pairs = {(r["id_a"], r["id_b"]): r for r in out}
    assert (1, 2) in pairs and len(pairs) == 1
    r = pairs[(1, 2)]
    # base: 8 shingles, near: 9, shared: 8 -> J = 8/9
    assert (r["inter"], r["uni"]) == (8, 9)
    assert r["jac_e6"] == (1_000_000 * 8) // 9


def test_shingles_short_doc_yields_empty_set(spark):
    # a doc with fewer than n tokens must contribute an EMPTY shingle set
    # (matching the oracles' generate_series(1, len-n+1) semantics), not
    # crash: the old greatest(...,0) guard produced Spark's DESCENDING
    # sequence(1,0)=[1,0] whose 0 is an illegal slice() start
    from odp_dynamic_data_pipeline_spark.operators.dedup import shingles

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "one two three four five six seven eight nine")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.shingles for r in shingles(df, "text", n=8).collect()}
    assert rows[1] == []
    assert len(rows[2]) == 2  # 9 tokens -> two 8-gram shingles
