"""Unit tests for gap+cap sessionization, PMI collocations, weighted
median, winsorized stats, and the streaming upsert store's ordering,
tombstone and expiry semantics -- crafted inputs with hand-computed
expectations."""

from __future__ import annotations

import datetime as dt

from odp_dynamic_data_pipeline_spark.operators.sessionize import sessionize_capped


def _ts(h: float) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(hours=h)


def test_sessionize_capped_gap_and_cap(spark):
    # user 1: events at 0h,1h,2h then 20h (gap 18h > 8h) -> gap split;
    # user 2: events every 5h from 0h to 30h (all gaps < 8h) -> cap at 24h
    #   splits after the event at 20h is in (25h > 24h from anchor 0h):
    #   anchor 0h, events 0,5,10,15,20 in session 1 (25h breaks: 25-0>24),
    #   session 2 anchor 25h: events 25,30.
    rows = [(1, _ts(0.0)), (1, _ts(1.0)), (1, _ts(2.0)), (1, _ts(20.0))] + [
        (2, _ts(float(h))) for h in range(0, 31, 5)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = sessionize_capped(df, group_col="user_id", ts_col="ts", gap_s=8 * 3600, cap_s=24 * 3600)
    got = {(r["user_id"], r["session_n"]): (r["n_events"], r["start_us"], r["end_us"]) for r in out.collect()}
    # the walk reads the SESSION-NAIVE datetime64 values, so expectations
    # are naive-as-epoch too (independent of the host zone)
    us = lambda h: int((_ts(h) - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)  # noqa: E731
    assert got[(1, 1)] == (3, us(0), us(2))
    assert got[(1, 2)] == (1, us(20), us(20))
    assert got[(2, 1)] == (5, us(0), us(20))
    assert got[(2, 2)] == (2, us(25), us(30))


def test_sessionize_capped_boundary_inclusive(spark):
    # an event EXACTLY cap seconds after the anchor stays in the session
    # (break requires ts - anchor > cap), matching the oracle recurrence
    rows = [(1, _ts(0.0)), (1, _ts(24.0)), (1, _ts(24.5))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = sessionize_capped(df, group_col="user_id", ts_col="ts", gap_s=30 * 3600, cap_s=24 * 3600)
    rows_out = sorted([tuple(r) for r in out.collect()])
    assert rows_out[0][1:3] == (1, 2)  # session 1 has 2 events
    assert rows_out[1][1:3] == (2, 1)  # 24.5h broke (24.5 - 0 > 24)


def test_pmi_collocations_crafted(spark):
    from odp_dynamic_data_pipeline_spark.operators.text import (
        ilog2_fp20,
        pmi_collocations,
    )

    # 'aa bb' occurs 4x (always together); 'cc' pairs with dd/ee evenly
    rows = [(i, "aa bb cc dd cc ee aa bb") for i in range(2)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["a"], r["b"]): r for r in pmi_collocations(df, min_count=2, k=10).collect()}
    r = out[("aa", "bb")]
    # bigrams per doc: 7 -> N = 14; aa->bb 4 times; aa first 4, bb second 4
    assert (r["n_ab"], r["n_a"], r["n_b"]) == (4, 4, 4)
    assert r["pmi_fp20"] == ilog2_fp20(14 * 4) - ilog2_fp20(4 * 4)
    # 'bb cc' happens 2x; bb-as-first 2, cc-as-second 4 (bb cc + dd cc)
    r2 = out[("bb", "cc")]
    assert (r2["n_ab"], r2["n_a"], r2["n_b"]) == (2, 2, 4)
    assert r2["pmi_fp20"] == ilog2_fp20(14 * 2) - ilog2_fp20(2 * 4)


def test_weighted_median_crafted(spark):
    from odp_dynamic_data_pipeline_spark.operators.aggregate import weighted_median

    # prices 10 (w 1), 20 (w 2), 30 (w 7): total 10, half 5 -> cum at 30
    # reaches 10 >= 5... cum: 10->1, 20->3, 30->10; first 2*cum >= 10 is 30
    rows = [("g", 10, 1), ("g", 20, 2), ("g", 30, 7), ("h", 5, 4), ("h", 9, 1)]
    df = spark.createDataFrame(rows, "g string, v long, w long")
    out = {r["g"]: r for r in weighted_median(df, ["g"], "v", "w").collect()}
    assert out["g"]["wmedian"] == 30 and out["g"]["total_w"] == 10
    # h: cum 5->4 (2*4 >= 5) -> wmedian 5
    assert out["h"]["wmedian"] == 5 and out["h"]["n_distinct_values"] == 2


def test_incremental_upsert_out_of_order_and_retry(spark, tmp_path):
    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        apply_incremental_upsert_batch,
        read_incremental_upsert,
    )

    store = f"{tmp_path}/store"
    mk = lambda rows: spark.createDataFrame(rows, "k long, seq long, val string")  # noqa: E731
    # batch 0 carries the NEWEST rows; batch 1 older + a new key: last-wins
    # by seq must hold regardless of arrival order
    apply_incremental_upsert_batch(
        mk([(1, 10, "new1"), (2, 20, "new2"), (1, 9, "mid1")]), 0, store,
        key_cols=["k"], seq_cols=["seq"], n_buckets=8,
    )
    apply_incremental_upsert_batch(
        mk([(1, 5, "old1"), (3, 1, "only3"), (2, 25, "newer2")]), 1, store,
        key_cols=["k"], seq_cols=["seq"], n_buckets=8,
    )
    # post-flip retry of batch 1: identical result
    apply_incremental_upsert_batch(
        mk([(1, 5, "old1"), (3, 1, "only3"), (2, 25, "newer2")]), 1, store,
        key_cols=["k"], seq_cols=["seq"], n_buckets=8,
    )
    got = {r["k"]: (r["seq"], r["val"]) for r in read_incremental_upsert(spark, store).collect()}
    assert got == {1: (10, "new1"), 2: (25, "newer2"), 3: (1, "only3")}


def test_incremental_upsert_seq_tiebreak(spark, tmp_path):
    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        apply_incremental_upsert_batch,
        read_incremental_upsert,
    )

    store = f"{tmp_path}/store"
    mk = lambda rows: spark.createDataFrame(rows, "k long, seq long, tie long, val string")  # noqa: E731
    apply_incremental_upsert_batch(
        mk([(1, 10, 1, "a"), (1, 10, 2, "b")]), 0, store,
        key_cols=["k"], seq_cols=["seq", "tie"], n_buckets=4,
    )
    [r] = read_incremental_upsert(spark, store).collect()
    assert (r["tie"], r["val"]) == (2, "b")  # deterministic tiebreak on the 2nd seq col


def test_winsorized_stats_crafted(spark):
    from odp_dynamic_data_pipeline_spark.operators.aggregate import winsorized_stats

    # 1..10: nearest-rank p10 bound = ceil(0.1*10)=1st value -> 1;
    # p90 = 9th value -> 9; clip 10 -> 9
    rows = [("g", v) for v in range(1, 11)]
    df = spark.createDataFrame(rows, "g string, v long")
    r = winsorized_stats(df, ["g"], "v", p_lo=10, p_hi=90).collect()[0]
    assert (r["lo_bound"], r["hi_bound"]) == (1, 9)
    assert (r["n_clipped_low"], r["n_clipped_high"]) == (0, 1)
    assert r["wins_sum"] == sum(range(1, 10)) + 9  # 10 clipped to 9
    assert r["wins_mean_e6"] == 1000000 * r["wins_sum"] // 10


def test_sessionize_capped_buckets_mode_identical(spark):
    # buckets=N reshapes the Arrow stage, never the result
    rows = [(u, _ts(float(h + u))) for u in range(7) for h in range(0, 40, 5)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    kw = dict(group_col="user_id", ts_col="ts", gap_s=6 * 3600, cap_s=20 * 3600)
    a = {tuple(r) for r in sessionize_capped(df, **kw).collect()}
    b = {tuple(r) for r in sessionize_capped(df, buckets=3, **kw).collect()}
    assert a == b and len(a) > 7


def test_upsert_delete_tombstone_blocks_resurrection(spark, tmp_path):
    """A winning DELETE must be retained as a tombstone: a LATE batch
    carrying a lower-seq update for the same key must NOT resurrect it.
    The live read filters the tombstone; expire_upsert_tombstones then
    reclaims it (and only then), dropping emptied buckets from the map."""
    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        apply_incremental_upsert_batch,
        expire_upsert_tombstones,
        read_incremental_upsert,
    )

    store = f"{tmp_path}/store"
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k long, seq long, val string, del boolean"
    )
    # batch 0: k=1 deleted at seq 5; k=2 live at seq 1
    apply_incremental_upsert_batch(
        mk([(1, 5, "x", True), (2, 1, "two", False)]), 0, store,
        key_cols=["k"], seq_cols=["seq"], n_buckets=4, delete_col="del",
    )
    # batch 1 (LATE, out of order): k=1 update with seq 3 < 5
    apply_incremental_upsert_batch(
        mk([(1, 3, "late", False)]), 1, store,
        key_cols=["k"], seq_cols=["seq"], n_buckets=4, delete_col="del",
    )
    live = {r["k"]: r["val"] for r in
            read_incremental_upsert(spark, store, delete_col="del").collect()}
    assert live == {2: "two"}  # k=1 stays deleted -- no resurrection
    raw = {r["k"]: (r["seq"], r["del"]) for r in
           read_incremental_upsert(spark, store).collect()}
    assert raw[1] == (5, True)  # the tombstone is physically retained
    # expiry reclaims exactly the tombstone; live view unchanged
    assert expire_upsert_tombstones(
        spark, store, key_cols=["k"], delete_col="del", n_buckets=4
    ) == 1
    raw2 = {r["k"] for r in read_incremental_upsert(spark, store).collect()}
    assert raw2 == {2}
    live2 = {r["k"]: r["val"] for r in
             read_incremental_upsert(spark, store, delete_col="del").collect()}
    assert live2 == {2: "two"}
    # idempotent: nothing left to expire
    assert expire_upsert_tombstones(
        spark, store, key_cols=["k"], delete_col="del", n_buckets=4
    ) == 0
    # folds keep working on the compacted store: a fresh higher-seq update
    # re-creates k=1 cleanly
    apply_incremental_upsert_batch(
        mk([(1, 9, "back", False)]), 2, store,
        key_cols=["k"], seq_cols=["seq"], n_buckets=4, delete_col="del",
    )
    live3 = {r["k"]: r["val"] for r in
             read_incremental_upsert(spark, store, delete_col="del").collect()}
    assert live3 == {1: "back", 2: "two"}


def test_expire_tombstones_drops_emptied_buckets(spark, tmp_path):
    """A bucket whose rows are ALL tombstones vanishes from the bucket
    map after expiry (an unmapped bucket reads as absent), while buckets
    without tombstones keep their existing version mapping untouched."""
    from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore
    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        apply_incremental_upsert_batch,
        expire_upsert_tombstones,
        read_incremental_upsert,
    )

    store = f"{tmp_path}/store"
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k long, seq long, del boolean"
    )
    # many keys so several buckets exist; delete EVERY key in the batch
    # except k=0 (k=0's bucket keeps a survivor)
    rows = [(k, 1, k != 0) for k in range(20)]
    apply_incremental_upsert_batch(
        mk(rows), 0, store, key_cols=["k"], seq_cols=["seq"], n_buckets=4,
        delete_col="del",
    )
    before = ManifestStore(spark, store, n_extras=2).read_manifest()
    assert expire_upsert_tombstones(
        spark, store, key_cols=["k"], delete_col="del", n_buckets=4
    ) == 19
    after = ManifestStore(spark, store, n_extras=2).read_manifest()
    assert set(after.cur_map) <= set(before.cur_map)
    got = {r["k"] for r in read_incremental_upsert(spark, store).collect()}
    assert got == {0}


def test_expire_then_vacuum_never_strands_pre_expire_reader(spark, tmp_path):
    """Expire is a manifest flip like any fold: a reader that resolved the
    PRE-expire manifest must still collect its consistent old view (raw,
    tombstones included) after expire + vacuum run -- expire writes a new
    version and flips, vacuum retains current + parent, and the pre-expire
    current IS the new parent."""
    from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore
    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        apply_incremental_upsert_batch,
        expire_upsert_tombstones,
        read_incremental_upsert,
    )

    store = f"{tmp_path}/store"
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k long, seq long, del boolean"
    )
    apply_incremental_upsert_batch(
        mk([(1, 5, True), (2, 1, False), (3, 2, False)]), 0, store,
        key_cols=["k"], seq_cols=["seq"], n_buckets=4, delete_col="del",
    )
    reader = read_incremental_upsert(spark, store)  # pre-expire manifest
    assert expire_upsert_tombstones(
        spark, store, key_cols=["k"], delete_col="del", n_buckets=4
    ) == 1
    ManifestStore(spark, store, n_extras=2).vacuum()
    got = {r["k"] for r in reader.collect()}
    assert got == {1, 2, 3}  # the old raw view, tombstone included
    assert {r["k"] for r in read_incremental_upsert(spark, store).collect()} == {2, 3}
