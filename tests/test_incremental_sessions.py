"""run_incremental_sessions: streaming gap+cap sessionization must equal
the one-shot batch walk (sessionize_capped) under ANY chronological split,
stay idempotent under post-flip retries, and refuse late batches."""

from __future__ import annotations

import datetime as dt

import pytest

from odp_dynamic_data_pipeline_spark.operators.sessionize import sessionize_capped
from odp_dynamic_data_pipeline_spark.streaming.stream import (
    apply_incremental_sessions_batch,
    read_incremental_sessions,
)

GAP_S = 8 * 3600
CAP_S = 24 * 3600


def _ts(h: float) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(hours=h)


ROWS = (
    # user 1: continuation across batches (gap < 8h at the boundary),
    # cap split later (events every 5h from 0..30h: cap at 25h)
    [(1, _ts(float(h))) for h in range(0, 31, 5)]
    # user 2: gap break exactly at a batch boundary (events 0h,1h then 20h)
    + [(2, _ts(0.0)), (2, _ts(1.0)), (2, _ts(20.0))]
    # user 3: single event in the first batch only (stays open, carried)
    + [(3, _ts(2.0))]
    # user 4: appears only in the last batch
    + [(4, _ts(26.0)), (4, _ts(27.0))]
)


def _mkdf(spark, rows):
    return spark.createDataFrame(rows, "user_id long, ts timestamp")


def _run_batches(spark, tmp, batches):
    store, out = f"{tmp}/store", f"{tmp}/out"
    for bid, rows in enumerate(batches):
        apply_incremental_sessions_batch(
            _mkdf(spark, rows), bid, store, out,
            group_col="user_id", ts_col="ts", gap_s=GAP_S, cap_s=CAP_S, n_buckets=8,
        )
    return {
        tuple(r)
        for r in read_incremental_sessions(spark, store, out).collect()
    }


def _batch_expected(spark):
    return {
        tuple(r)
        for r in sessionize_capped(
            _mkdf(spark, ROWS), group_col="user_id", ts_col="ts", gap_s=GAP_S, cap_s=CAP_S
        ).collect()
    }


def _split_by_hour(rows, *cuts):
    bounds = [dt.datetime.min, *[_ts(c) for c in cuts], dt.datetime.max]
    return [
        [r for r in rows if bounds[i] <= r[1] < bounds[i + 1]]
        for i in range(len(bounds) - 1)
    ]


def test_two_way_split_equals_batch(spark, tmp_path):
    got = _run_batches(spark, str(tmp_path), _split_by_hour(ROWS, 12.0))
    assert got == _batch_expected(spark)


def test_three_way_split_equals_batch(spark, tmp_path):
    got = _run_batches(spark, str(tmp_path), _split_by_hour(ROWS, 6.0, 21.0))
    assert got == _batch_expected(spark)


def test_boundary_on_cap_split_equals_batch(spark, tmp_path):
    # cut exactly at user 1's cap-break event (25h): the open session's
    # anchor must survive the batch boundary for the cap to fire
    got = _run_batches(spark, str(tmp_path), _split_by_hour(ROWS, 25.0))
    assert got == _batch_expected(spark)


def test_retry_after_flip_is_idempotent(spark, tmp_path):
    tmp = str(tmp_path)
    store, out = f"{tmp}/store", f"{tmp}/out"
    b0, b1 = _split_by_hour(ROWS, 12.0)
    apply_incremental_sessions_batch(
        _mkdf(spark, b0), 0, store, out,
        group_col="user_id", ts_col="ts", gap_s=GAP_S, cap_s=CAP_S, n_buckets=8,
    )
    for _ in range(2):  # batch 1 applied twice: post-flip retry replay
        apply_incremental_sessions_batch(
            _mkdf(spark, b1), 1, store, out,
            group_col="user_id", ts_col="ts", gap_s=GAP_S, cap_s=CAP_S, n_buckets=8,
        )
    got = {tuple(r) for r in read_incremental_sessions(spark, store, out).collect()}
    assert got == _batch_expected(spark)


def test_late_batch_raises(spark, tmp_path):
    tmp = str(tmp_path)
    store, out = f"{tmp}/store", f"{tmp}/out"
    b0, b1 = _split_by_hour(ROWS, 12.0)
    apply_incremental_sessions_batch(
        _mkdf(spark, b1), 0, store, out,
        group_col="user_id", ts_col="ts", gap_s=GAP_S, cap_s=CAP_S, n_buckets=8,
    )
    with pytest.raises(ValueError, match="late batch"):
        apply_incremental_sessions_batch(
            _mkdf(spark, b0), 1, store, out,
            group_col="user_id", ts_col="ts", gap_s=GAP_S, cap_s=CAP_S, n_buckets=8,
        )


def test_empty_batch_is_noop(spark, tmp_path):
    tmp = str(tmp_path)
    store, out = f"{tmp}/store", f"{tmp}/out"
    b0, b1 = _split_by_hour(ROWS, 12.0)
    apply_incremental_sessions_batch(
        _mkdf(spark, b0), 0, store, out,
        group_col="user_id", ts_col="ts", gap_s=GAP_S, cap_s=CAP_S, n_buckets=8,
    )
    apply_incremental_sessions_batch(
        _mkdf(spark, []).limit(0), 1, store, out,
        group_col="user_id", ts_col="ts", gap_s=GAP_S, cap_s=CAP_S, n_buckets=8,
    )
    apply_incremental_sessions_batch(
        _mkdf(spark, b1), 2, store, out,
        group_col="user_id", ts_col="ts", gap_s=GAP_S, cap_s=CAP_S, n_buckets=8,
    )
    got = {tuple(r) for r in read_incremental_sessions(spark, store, out).collect()}
    assert got == _batch_expected(spark)


def test_vacuum_keeps_readable_store(spark, tmp_path):
    from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore
    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        apply_incremental_sessions_batch,
        read_incremental_sessions,
    )

    tmp = str(tmp_path)
    store, out = f"{tmp}/store", f"{tmp}/out"
    batches = _split_by_hour(ROWS, 6.0, 12.0, 21.0)
    for bid, rows in enumerate(batches):
        apply_incremental_sessions_batch(
            _mkdf(spark, rows), bid, store, out,
            group_col="user_id", ts_col="ts", gap_s=GAP_S, cap_s=CAP_S, n_buckets=8,
        )
    before = {tuple(r) for r in read_incremental_sessions(spark, store, out).collect()}
    deleted = ManifestStore(spark, store, n_extras=2).vacuum()
    # 4 batches wrote 4 versions; current + every map-referenced version
    # must survive, the rest go
    after = {tuple(r) for r in read_incremental_sessions(spark, store, out).collect()}
    assert after == before == _batch_expected(spark)
    import os

    remaining = {d for d in os.listdir(store) if d.startswith("v")}
    assert not (remaining & set(deleted))
