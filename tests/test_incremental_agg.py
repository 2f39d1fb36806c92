"""Incremental materialized aggregate: per-key totals fold across batches."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from odp_dynamic_data_pipeline_spark.sources.readers import read_file_stream
from odp_dynamic_data_pipeline_spark.streaming.stream import (
    read_incremental_agg,
    run_incremental_agg,
)

SCHEMA = StructType(
    [
        StructField("user", StringType()),
        StructField("amt", DoubleType()),
        StructField("seq", LongType()),
    ]
)


def test_incremental_agg_folds_batches(spark, tmp_path):
    d = tmp_path / "agg_in"
    d.mkdir()
    now = time.time()
    b1 = [{"user": "a", "amt": 1.0, "seq": 1}, {"user": "b", "amt": 2.0, "seq": 2}]
    b2 = [{"user": "a", "amt": 3.0, "seq": 3}, {"user": "c", "amt": 4.0, "seq": 4}]
    for name, rows, mt in [("b1.json", b1, now - 60), ("b2.json", b2, now - 30)]:
        p = d / name
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (mt, mt))

    stream = read_file_stream(
        spark, str(d), SCHEMA, multiline=False, max_files_per_trigger=1
    )
    store = str(tmp_path / "agg_store")
    run_incremental_agg(
        stream,
        store,
        checkpoint=str(tmp_path / "agg_ck"),
        key_cols=["user"],
        sum_col="amt",
        n_buckets=8,
    )
    got = {
        r["user"]: (r["n"], r["sum_amt"])
        for r in read_incremental_agg(spark, store).collect()
    }
    assert got == {"a": (2, 4.0), "b": (1, 2.0), "c": (1, 4.0)}
    # both version directories exist; MANIFEST points at the latest
    versions = sorted(p for p in os.listdir(store) if p.startswith("v"))
    assert len(versions) == 2


def test_incremental_agg_resume_from_checkpoint(spark, tmp_path):
    """Stopping and re-running the stream with the SAME checkpoint must fold
    only the new files -- each input batch lands in the totals exactly once
    across process restarts (the operational property of the versioned
    store + streaming checkpoint together)."""
    d = tmp_path / "resume_in"
    d.mkdir()
    now = time.time()

    def _write(name, rows, mt):
        p = d / name
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (mt, mt))

    _write("b1.json", [{"user": "a", "amt": 1.0, "seq": 1}], now - 90)
    store = str(tmp_path / "resume_store")
    ck = str(tmp_path / "resume_ck")

    def _run():
        stream = read_file_stream(
            spark, str(d), SCHEMA, multiline=False, max_files_per_trigger=1
        )
        run_incremental_agg(
            stream, store, checkpoint=ck, key_cols=["user"], sum_col="amt", n_buckets=8
        )

    _run()  # first process lifetime: only b1
    got1 = {r["user"]: (r["n"], r["sum_amt"]) for r in read_incremental_agg(spark, store).collect()}
    assert got1 == {"a": (1, 1.0)}

    _write("b2.json", [{"user": "a", "amt": 5.0, "seq": 2}, {"user": "b", "amt": 7.0, "seq": 3}], now - 30)
    _run()  # restart: checkpoint skips b1, folds only b2
    got2 = {r["user"]: (r["n"], r["sum_amt"]) for r in read_incremental_agg(spark, store).collect()}
    assert got2 == {"a": (2, 6.0), "b": (1, 7.0)}


def test_incremental_agg_retry_never_rewrites_live_version(spark, tmp_path):
    """A retried batch must write a FRESH version directory (v{b}_r{k}), not
    overwrite the directory the live manifest points at -- otherwise a
    concurrent reader sees a partial store mid-rewrite.  Simulated by
    pre-creating the would-be version directory (the state a crash between
    write and flip, or a post-flip retry, leaves behind)."""
    d = tmp_path / "retry_in"
    d.mkdir()
    now = time.time()
    p = d / "b1.json"
    with open(p, "w") as f:
        f.write(json.dumps({"user": "a", "amt": 2.0, "seq": 1}) + "\n")
    os.utime(p, (now - 60, now - 60))

    store = tmp_path / "retry_store"
    store.mkdir()
    # leftover partial dir from a crashed earlier attempt of batch 0
    (store / "v0").mkdir()
    (store / "v0" / "garbage.bin").write_bytes(b"\x00not-parquet")

    stream = read_file_stream(
        spark, str(d), SCHEMA, multiline=False, max_files_per_trigger=1
    )
    run_incremental_agg(
        stream, str(store), checkpoint=str(tmp_path / "retry_ck"),
        key_cols=["user"], sum_col="amt", n_buckets=8,
    )
    got = {r["user"]: (r["n"], r["sum_amt"]) for r in read_incremental_agg(spark, str(store)).collect()}
    assert got == {"a": (1, 2.0)}
    # the partial dir was left untouched; the flip points at the fresh one
    assert (store / "v0" / "garbage.bin").read_bytes() == b"\x00not-parquet"
    assert (store / "MANIFEST").read_text().splitlines()[0] == "v0_r1"
    # MANIFEST flip is overwrite-rename: no MANIFEST.tmp debris
    assert not (store / "MANIFEST.tmp").exists()


def test_incremental_agg_vacuum(spark, tmp_path):
    """Vacuum keeps only the manifest's current version and its parent;
    everything older is deleted and the store still reads correctly."""
    from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore

    d = tmp_path / "vac_in"
    d.mkdir()
    now = time.time()
    for i, name in enumerate(["b1.json", "b2.json", "b3.json"]):
        p = d / name
        with open(p, "w") as f:
            f.write(json.dumps({"user": "a", "amt": 1.0, "seq": i}) + "\n")
        os.utime(p, (now - 90 + i * 20, now - 90 + i * 20))

    store = str(tmp_path / "vac_store")
    stream = read_file_stream(
        spark, str(d), SCHEMA, multiline=False, max_files_per_trigger=1
    )
    run_incremental_agg(
        stream, store, checkpoint=str(tmp_path / "vac_ck"), key_cols=["user"], sum_col="amt",
        n_buckets=8,
    )
    versions_before = sorted(p for p in os.listdir(store) if p.startswith("v"))
    assert len(versions_before) == 3  # one per micro-batch
    deleted = ManifestStore(spark, store).vacuum()
    assert sorted(deleted) == ["v0"]  # keep current v2 + parent v1
    got = {r["user"]: (r["n"], r["sum_amt"]) for r in read_incremental_agg(spark, store).collect()}
    assert got == {"a": (3, 3.0)}


# ---------------------------------------------------------------------------
# bucketed delta-merge (n_buckets): per-batch cost ~ touched buckets
# ---------------------------------------------------------------------------


def _drop(d, name, rows, mt):
    p = d / name
    with open(p, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.utime(p, (mt, mt))


def _versions(store):
    return sorted(p for p in os.listdir(store) if p.startswith("v"))


def _bucket_dirs(store, version):
    return sorted(
        p for p in os.listdir(os.path.join(store, version)) if p.startswith("bucket=")
    )


def test_bucketed_fold_and_delta_merge(spark, tmp_path):
    d = tmp_path / "bk_in"
    d.mkdir()
    now = time.time()
    b1 = [{"user": u, "amt": float(i + 1), "seq": i} for i, u in enumerate("abcdef")]
    b2 = [{"user": "a", "amt": 10.0, "seq": 99}]
    _drop(d, "b1.json", b1, now - 60)
    _drop(d, "b2.json", b2, now - 30)
    store, ck = str(tmp_path / "bk_store"), str(tmp_path / "bk_ck")
    stream = read_file_stream(
        spark, str(d), SCHEMA, multiline=False, max_files_per_trigger=1
    )
    run_incremental_agg(
        stream, store, checkpoint=ck, key_cols=["user"], sum_col="amt", n_buckets=8
    )
    got = {
        r["user"]: (r["n"], r["sum_amt"])
        for r in read_incremental_agg(spark, store).select("user", "n", "sum_amt").collect()
    }
    want = {u: (1, float(i + 1)) for i, u in enumerate("abcdef")}
    want["a"] = (2, 11.0)
    assert got == want
    # the second version holds ONLY the single bucket batch 2 touched;
    # every other bucket is still served from the first version
    vs = _versions(store)
    assert len(vs) == 2
    assert len(_bucket_dirs(store, vs[1])) == 1
    assert len(_bucket_dirs(store, vs[0])) >= 1
    manifest = open(os.path.join(store, "MANIFEST")).read().splitlines()
    assert len(manifest) == 4
    cur_map = json.loads(manifest[2])
    assert set(cur_map.values()) == set(vs)  # map mixes both versions


def test_n_buckets_must_be_a_positive_int(spark, tmp_path):
    """The store has one layout, bucketed: ``n_buckets=None`` is refused
    before anything is written."""
    import pytest

    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        apply_incremental_agg_batch,
    )

    store = tmp_path / "nb_store"
    df = spark.createDataFrame([("a", 1.0, 1)], "user string, amt double, seq long")
    for bad in (None, 0):
        with pytest.raises(ValueError, match="n_buckets"):
            apply_incremental_agg_batch(
                df, 0, str(store), key_cols=["user"], sum_col="amt", n_buckets=bad
            )
    assert not store.exists()


def test_bucketed_post_flip_retry_no_double_count(spark, tmp_path):
    # apply the SAME batch_id twice (a foreachBatch retry after a
    # successful manifest flip): the second application must rebuild
    # from the recorded parent map, not fold its own flipped output
    # (which would double-count user a)
    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        apply_incremental_agg_batch,
    )

    store = str(tmp_path / "rt_store")
    b0 = spark.createDataFrame(
        [("a", 1.0, 1)], "user string, amt double, seq long"
    )
    b1 = spark.createDataFrame(
        [("a", 2.0, 2), ("b", 4.0, 3)], "user string, amt double, seq long"
    )
    apply_incremental_agg_batch(
        b0, 0, store, key_cols=["user"], sum_col="amt", n_buckets=4
    )
    apply_incremental_agg_batch(
        b1, 1, store, key_cols=["user"], sum_col="amt", n_buckets=4
    )
    apply_incremental_agg_batch(  # post-flip retry of batch 1
        b1, 1, store, key_cols=["user"], sum_col="amt", n_buckets=4
    )
    got = {
        r["user"]: (r["n"], r["sum_amt"])
        for r in read_incremental_agg(spark, store).select("user", "n", "sum_amt").collect()
    }
    assert got == {"a": (2, 3.0), "b": (1, 4.0)}
    # the retry wrote a fresh v1_r1 and the manifest points at it
    assert open(os.path.join(store, "MANIFEST")).read().splitlines()[0] == "v1_r1"
    # and a retry of the FIRST batch ever (parent map null) folds the
    # batch alone -- the poisoned current v0 map is ignored
    store2 = str(tmp_path / "rt2_store")
    apply_incremental_agg_batch(
        b0, 0, store2, key_cols=["user"], sum_col="amt", n_buckets=4
    )
    apply_incremental_agg_batch(
        b0, 0, store2, key_cols=["user"], sum_col="amt", n_buckets=4
    )
    got2 = {
        r["user"]: (r["n"], r["sum_amt"])
        for r in read_incremental_agg(spark, store2).select("user", "n", "sum_amt").collect()
    }
    assert got2 == {"a": (1, 1.0)}


def test_bucketed_vacuum_keeps_mapped_versions(spark, tmp_path):
    from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore

    d = tmp_path / "vc_in"
    d.mkdir()
    now = time.time()
    # three batches with DISJOINT keys: the current map points at all
    # three versions, so vacuum must delete none of them
    for i, u in enumerate(["a", "b", "c"]):
        _drop(d, f"b{i}.json", [{"user": u, "amt": 1.0, "seq": i}], now - 90 + 30 * i)
    store, ck = str(tmp_path / "vc_store"), str(tmp_path / "vc_ck")
    stream = read_file_stream(
        spark, str(d), SCHEMA, multiline=False, max_files_per_trigger=1
    )
    run_incremental_agg(
        stream, store, checkpoint=ck, key_cols=["user"], sum_col="amt", n_buckets=64
    )
    deleted = ManifestStore(spark, store).vacuum()
    assert deleted == []  # every version still owns a mapped bucket
    got = {
        r["user"]: r["n"]
        for r in read_incremental_agg(spark, store).select("user", "n").collect()
    }
    assert got == {"a": 1, "b": 1, "c": 1}
