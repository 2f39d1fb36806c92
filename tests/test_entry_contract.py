"""Driver-contract invariants for __spark_entry__ (the file the driver
actually imports): the rotation must cover every registered query exactly
once, never lose an oracle, and front-load the queries that still need a
driver hash row."""

from __future__ import annotations

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_under_test", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_queries_cover_registry_exactly_once():
    from odp_dynamic_data_pipeline_spark.queries import ORACLE_SQL, SPARK_QUERIES

    e = _entry()
    q = e.queries()
    assert set(q) == set(SPARK_QUERIES)
    assert len(q) == len(SPARK_QUERIES)
    o = e.oracle_sql()
    assert set(o) == set(ORACLE_SQL)
    assert set(o) <= set(q)
    # the rows-only set is EMPTY: the xxhash64 perf paths
    # (dedup_minhash_lsh, dedup_simhash) carry full DuckDB oracles via
    # the generated XXH64 SQL replay (queries/xxh64_sql.py).  Every
    # registered query carries a hash-exact oracle.
    assert set(q) - set(o) == set()
    # the store-maintenance gates (threshold-0 compaction; double expiry
    # + replay) and their default-cadence twins
    assert {
        "cdc_upsert_expiry_replay_stream", "cdc_upsert_deletes_stream",
        "incremental_clusters_compacted_stream", "incremental_clusters_stream",
    } <= set(o)


def test_rotation_frontloads_uncovered_queries():
    """Every query without a fully-green driver row in any recorded
    CORRECTNESS artifact must sort before every covered one (the driver
    samples a prefix per round, so this ordering is what makes the union
    converge)."""
    e = _entry()
    covered = e._driver_covered()
    order = list(e.queries())
    first_covered = next((i for i, n in enumerate(order) if n in covered), len(order))
    stragglers = [n for n in order[first_covered:] if n not in covered]
    assert stragglers == [], f"uncovered queries sorted after covered ones: {stragglers}"
