"""Guards added per the r10 advisor findings + r10 verdict item 5:

1. CONFIG sidecar pinning (ensure_store_config / validate_store_config):
   layout-determining knobs (key_cols, n_buckets, gap/cap)
   are caller parameters on every fold, but the layout they determine is
   fixed at store creation -- a mismatch silently rehashes keys into
   different buckets (rows invisible to touched-bucket folds, deleted
   keys resurrecting).  The guard fails LOUD.
2. Maintenance version namespace (v{B}m{k}): a maintenance flip that
   reused the batch/retry namespace (v{B}_r{k}) would make a later replay
   of batch B match base_for_batch's retry rule and rebuild from the
   PRE-maintenance parent, silently reverting tombstone expiry / chain
   compaction.
3. read_current over a non-None-but-EMPTY bucket map (reachable after
   expire_upsert_tombstones drops every mapped bucket) must return an
   empty, correctly-typed DataFrame instead of the opaque zero-path
   parquet error.
4. maybe_compact_incremental_cc: the chain-length auto-compaction trigger
   (no-op below threshold, folds + resets above it, reads identical
   across the trigger).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from odp_dynamic_data_pipeline_spark.streaming.kvstore import (
    ManifestStore,
    ensure_store_config,
    read_store_config,
    validate_store_config,
)
from odp_dynamic_data_pipeline_spark.streaming.stream import (
    apply_incremental_agg_batch,
    apply_incremental_cc_batch,
    apply_incremental_sessions_batch,
    apply_incremental_upsert_batch,
    compact_incremental_cc,
    expire_upsert_tombstones,
    maybe_compact_incremental_cc,
    read_incremental_cc,
    read_incremental_upsert,
)


def _upsert_batch(spark, rows):
    return spark.createDataFrame(rows, "k string, seq long, v string, is_del boolean")


def test_upsert_config_pinned_and_mismatch_raises(spark, tmp_path):
    store = str(tmp_path / "cdc")
    b0 = _upsert_batch(spark, [("a", 1, "x", False), ("b", 1, "y", False)])
    apply_incremental_upsert_batch(
        b0, 0, store, key_cols=["k"], seq_cols=["seq"], n_buckets=8,
        delete_col="is_del",
    )
    cfg = read_store_config(spark, store)
    assert cfg == {
        "family": "upsert",
        "key_cols": ["k"],
        "seq_cols": ["seq"],
        "n_buckets": 8,
        "delete_col": "is_del",
    }
    b1 = _upsert_batch(spark, [("a", 2, "z", False)])
    # wrong n_buckets: would rehash keys into different buckets
    with pytest.raises(ValueError, match="different layout"):
        apply_incremental_upsert_batch(
            b1, 1, store, key_cols=["k"], seq_cols=["seq"], n_buckets=16,
            delete_col="is_del",
        )
    # wrong key set
    with pytest.raises(ValueError, match="different layout"):
        apply_incremental_upsert_batch(
            b1, 1, store, key_cols=["k", "v"], seq_cols=["seq"], n_buckets=8,
            delete_col="is_del",
        )
    # matching fold still works after the failed attempts
    apply_incremental_upsert_batch(
        b1, 1, store, key_cols=["k"], seq_cols=["seq"], n_buckets=8,
        delete_col="is_del",
    )
    got = {
        (r["k"], r["v"]) for r in read_incremental_upsert(
            spark, store, delete_col="is_del"
        ).collect()
    }
    assert got == {("a", "z"), ("b", "y")}


def test_expire_tombstones_validates_config(spark, tmp_path):
    store = str(tmp_path / "cdc")
    apply_incremental_upsert_batch(
        _upsert_batch(spark, [("a", 1, "x", False), ("b", 2, "y", True)]),
        0, store, key_cols=["k"], seq_cols=["seq"], n_buckets=8,
        delete_col="is_del",
    )
    with pytest.raises(ValueError, match="mismatch the pinned CONFIG"):
        expire_upsert_tombstones(
            spark, store, key_cols=["k"], delete_col="is_del", n_buckets=64
        )
    # matching values proceed
    n = expire_upsert_tombstones(
        spark, store, key_cols=["k"], delete_col="is_del", n_buckets=8
    )
    assert n == 1


def test_expire_uses_maintenance_namespace_and_replay_does_not_revert(spark, tmp_path):
    """A post-flip replay of the last batch AFTER tombstone expiry must
    fold on top of the expired state (v{B}m{k} never matches the retry
    rule) -- not rebuild from the pre-expiry parent, which would
    resurrect the tombstones (advisor r10 low finding)."""
    store = str(tmp_path / "cdc")
    apply_incremental_upsert_batch(
        _upsert_batch(spark, [("a", 1, "x", False), ("b", 1, "y", False)]),
        0, store, key_cols=["k"], seq_cols=["seq"], n_buckets=4,
        delete_col="is_del",
    )
    b1 = _upsert_batch(spark, [("b", 2, "z", True)])  # delete b
    apply_incremental_upsert_batch(
        b1, 1, store, key_cols=["k"], seq_cols=["seq"], n_buckets=4,
        delete_col="is_del",
    )
    n = expire_upsert_tombstones(
        spark, store, key_cols=["k"], delete_col="is_del", n_buckets=4
    )
    assert n == 1
    import re

    ms = ManifestStore(spark, store, n_extras=2)
    m = ms.read_manifest()
    assert re.match(r"^v1m\d+$", m.current), m.current
    assert ms.version_batch_id(m.current) == 1
    # replay batch 1 (post-flip retry semantics): with the maintenance
    # namespace the base is the EXPIRED state, and max-by-seq re-folding
    # is idempotent -- the tombstone must NOT come back
    apply_incremental_upsert_batch(
        b1, 1, store, key_cols=["k"], seq_cols=["seq"], n_buckets=4,
        delete_col="is_del",
    )
    rows = read_incremental_upsert(spark, store).collect()
    by_k = {r["k"]: r for r in rows}
    # b's delete row was re-folded from the replayed batch (idempotent,
    # visible as a tombstone again until the next expiry) -- the critical
    # property is that 'a' survived and no DUPLICATE keys appeared
    assert len(rows) == len(by_k)
    assert by_k["a"]["v"] == "x"
    n2 = expire_upsert_tombstones(
        spark, store, key_cols=["k"], delete_col="is_del", n_buckets=4
    )
    assert n2 <= 1  # re-expiry after replay is clean and idempotent


def test_expire_retry_after_partial_maintenance_write(spark, tmp_path):
    """A maintenance op that crashed AFTER creating its v{B}m1 directory
    but BEFORE the manifest flip must be re-runnable: the fresh version
    election skips to v{B}m2 (never writes into the partial directory),
    and the manifest still flips to a fully-written version."""
    import os

    store = str(tmp_path / "cdc")
    apply_incremental_upsert_batch(
        _upsert_batch(spark, [("a", 1, "x", False), ("b", 2, "y", True)]),
        0, store, key_cols=["k"], seq_cols=["seq"], n_buckets=4,
        delete_col="is_del",
    )
    # simulate the crashed first maintenance attempt: partial directory,
    # no flip
    os.makedirs(f"{store}/v0m1", exist_ok=True)
    with open(f"{store}/v0m1/part-partial.parquet", "w") as f:
        f.write("garbage, not parquet")
    n = expire_upsert_tombstones(
        spark, store, key_cols=["k"], delete_col="is_del", n_buckets=4
    )
    assert n == 1
    m = ManifestStore(spark, store, n_extras=2).read_manifest()
    assert m.current == "v0m2", m.current  # skipped the partial v0m1
    got = {r["k"] for r in read_incremental_upsert(spark, store).collect()}
    assert got == {"a"}


def test_read_current_empty_bucket_map_returns_typed_empty(spark, tmp_path):
    """Expiring EVERY key's bucket leaves a manifest with an empty bucket
    map; read_current must come back empty with the store schema."""
    store = str(tmp_path / "cdc")
    apply_incremental_upsert_batch(
        _upsert_batch(spark, [("a", 1, "x", True), ("b", 1, "y", True)]),
        0, store, key_cols=["k"], seq_cols=["seq"], n_buckets=4,
        delete_col="is_del",
    )
    n = expire_upsert_tombstones(
        spark, store, key_cols=["k"], delete_col="is_del", n_buckets=4
    )
    assert n == 2
    ms = ManifestStore(spark, store, n_extras=2)
    assert ms.read_manifest().cur_map == {}
    cur = ms.read_current()
    assert cur.count() == 0
    assert set(cur.columns) >= {"k", "seq", "v", "is_del"}
    assert read_incremental_upsert(spark, store, delete_col="is_del").count() == 0


def test_agg_and_sessions_config_guards(spark, tmp_path):
    agg_store = str(tmp_path / "agg")
    df = spark.createDataFrame([("u1",), ("u2",)], "k string")
    apply_incremental_agg_batch(df, 0, agg_store, key_cols=["k"], n_buckets=8)
    with pytest.raises(ValueError, match="different layout"):
        apply_incremental_agg_batch(df, 1, agg_store, key_cols=["k"], n_buckets=4)

    sess_store = str(tmp_path / "sess")
    ev = spark.createDataFrame(
        [("u1", "2024-01-01 00:00:00")], "g string, ts_s string"
    ).select("g", F.to_timestamp("ts_s").alias("ts"))
    apply_incremental_sessions_batch(
        ev, 0, sess_store, str(tmp_path / "sess_out"),
        group_col="g", ts_col="ts", gap_s=100, cap_s=1000, n_buckets=8,
    )
    ev2 = spark.createDataFrame(
        [("u1", "2024-01-01 01:00:00")], "g string, ts_s string"
    ).select("g", F.to_timestamp("ts_s").alias("ts"))
    with pytest.raises(ValueError, match="different layout"):
        apply_incremental_sessions_batch(
            ev2, 1, sess_store, str(tmp_path / "sess_out"),
            group_col="g", ts_col="ts", gap_s=200, cap_s=1000, n_buckets=8,
        )


def test_ensure_config_adopts_preexisting_store(spark, tmp_path):
    """A store created before the guard has no CONFIG: the next fold
    adopts its values (writes CONFIG) instead of refusing, and validation
    on a config-less store is a no-op returning None."""
    store = str(tmp_path / "legacy")
    assert validate_store_config(spark, store, {"n_buckets": 99}) is None
    pinned = ensure_store_config(spark, store, {"family": "agg", "n_buckets": 8})
    assert pinned == {"family": "agg", "n_buckets": 8}
    assert read_store_config(spark, store) == pinned
    with pytest.raises(ValueError, match="different layout"):
        ensure_store_config(spark, store, {"family": "agg", "n_buckets": 16})


def test_sidecar_exclusive_create_single_winner(spark, tmp_path):
    """r12 advisor: the first-fold pin must use exclusive-create semantics
    (unique tmp + no-overwrite rename) so exactly one of N racing writers
    wins -- the overwrite-rename version only DETECTED races that landed
    inside the write-to-re-read window."""
    from odp_dynamic_data_pipeline_spark.streaming import kvstore as kv

    path = str(tmp_path / "store" / "_CONFIG")
    assert kv.write_sidecar_exclusive(spark, path, "alpha") is True
    # every later writer loses and the winner's bytes survive untouched
    assert kv.write_sidecar_exclusive(spark, path, "beta") is False
    assert kv.read_sidecar(spark, path) == "alpha"
    # losers' staged tmp files are cleaned up, not left to confuse scans
    leftovers = [p.name for p in (tmp_path / "store").iterdir()
                 if ".tmp." in p.name]
    assert leftovers == []


def test_ensure_config_first_fold_race_detected(spark, tmp_path, monkeypatch):
    """r11/r12 advisor TOCTOU: two concurrent first folds could both see
    no _CONFIG and pin divergent layouts.  With exclusive create, the
    loser of the rename race reconciles against the winner's sidecar:
    identical config is adopted, divergent config aborts loudly."""
    from odp_dynamic_data_pipeline_spark.streaming import kvstore as kv

    store = str(tmp_path / "raced")
    real_excl = kv.write_sidecar_exclusive

    def racing_excl(spark_, path, body):
        # the other writer's exclusive create lands just before ours
        real_excl(spark_, path, '{"family": "agg", "n_buckets": 64}')
        return real_excl(spark_, path, body)

    monkeypatch.setattr(kv, "write_sidecar_exclusive", racing_excl)
    with pytest.raises(ValueError, match="different layout"):
        ensure_store_config(spark, store, {"family": "agg", "n_buckets": 8})
    monkeypatch.undo()
    # the surviving config is the winner's; a retry with the LOSER's knobs
    # still fails the ordinary mismatch path, never silently mixes layouts
    with pytest.raises(ValueError, match="different layout"):
        ensure_store_config(spark, store, {"family": "agg", "n_buckets": 8})
    assert ensure_store_config(spark, store, {"family": "agg", "n_buckets": 64})


def test_ensure_config_race_with_identical_config_adopts(spark, tmp_path, monkeypatch):
    """A lost first-fold race with an IDENTICAL config is benign: the
    loser adopts the winner's pin instead of aborting."""
    from odp_dynamic_data_pipeline_spark.streaming import kvstore as kv

    store = str(tmp_path / "raced_same")
    real_excl = kv.write_sidecar_exclusive

    def racing_excl(spark_, path, body):
        real_excl(spark_, path, body)  # winner pinned the same config
        return real_excl(spark_, path, body)

    monkeypatch.setattr(kv, "write_sidecar_exclusive", racing_excl)
    pinned = ensure_store_config(spark, store, {"family": "agg", "n_buckets": 8})
    assert pinned == {"family": "agg", "n_buckets": 8}


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_cc_auto_compaction_trigger_and_read_stability(spark, tmp_path):
    """maybe_compact_incremental_cc: below threshold no-op; above it the
    chain folds into the labels and resets; the resolved labeling is
    IDENTICAL before and after the trigger."""
    store = str(tmp_path / "cc")
    # batch 0: 6 separate 2-node components
    apply_incremental_cc_batch(
        _edges(spark, [(i, i + 100) for i in range(6)]), 0, store, n_buckets=4
    )
    # batch 1: merge them pairwise, then batch 2 chains everything -- all
    # merges of EXISTING comps, so they enter the remap chain
    apply_incremental_cc_batch(
        _edges(spark, [(0, 1), (2, 3), (4, 5)]), 1, store, n_buckets=4
    )
    apply_incremental_cc_batch(_edges(spark, [(1, 2), (3, 4)]), 2, store, n_buckets=4)
    ms = ManifestStore(spark, f"{store}/labels", n_extras=2)
    chain_len = len(ms.read_manifest().extras[0] or [])
    assert chain_len >= 5, f"test premise: chain should have >=5 merges, got {chain_len}"
    before = {(r["doc_id"], r["component"]) for r in read_incremental_cc(spark, store).collect()}
    # below threshold: no-op
    assert maybe_compact_incremental_cc(spark, store, max_chain=chain_len, n_buckets=4) == 0
    assert len(ms.read_manifest().extras[0] or []) == chain_len
    # above threshold: folds exactly the chain, resets it
    assert maybe_compact_incremental_cc(spark, store, max_chain=chain_len - 1, n_buckets=4) == chain_len
    assert not (ms.read_manifest().extras[0] or [])
    after = {(r["doc_id"], r["component"]) for r in read_incremental_cc(spark, store).collect()}
    assert before == after
    # everything is one component labeled by the global min node id
    assert {c for _, c in after} == {0}


def test_cc_compaction_namespace_and_config_guard(spark, tmp_path):
    store = str(tmp_path / "cc")
    apply_incremental_cc_batch(_edges(spark, [(1, 2)]), 0, store, n_buckets=4)
    apply_incremental_cc_batch(_edges(spark, [(3, 4)]), 1, store, n_buckets=4)
    b2 = _edges(spark, [(2, 3)])
    apply_incremental_cc_batch(b2, 2, store, n_buckets=4)
    with pytest.raises(ValueError, match="different layout"):
        apply_incremental_cc_batch(_edges(spark, [(5, 6)]), 3, store, n_buckets=8)
    with pytest.raises(ValueError, match="mismatch the pinned CONFIG"):
        compact_incremental_cc(spark, store, n_buckets=8)
    assert compact_incremental_cc(spark, store, n_buckets=4) == 1
    ms = ManifestStore(spark, f"{store}/labels", n_extras=2)
    m = ms.read_manifest()
    assert ms.version_batch_id(m.current) == 2 and "m" in m.current
    # replay of batch 2 after the compaction flip: folds on top (CC is
    # idempotent), labeling unchanged
    apply_incremental_cc_batch(b2, 2, store, n_buckets=4)
    got = {(r["doc_id"], r["component"]) for r in read_incremental_cc(spark, store).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1)}


