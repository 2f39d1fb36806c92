"""Checks of the benchmark's own code, without Spark.

    python3 -m pytest perfbench/test_oracle.py -q

The observability oracle must reproduce the reference's committed golden
hour (tests/fixtures/reference_hour/expected/) from its inputs, and the
generators must be deterministic in their seed.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import gen, oracle

HOUR = "2024111612"
FIXTURES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tests", "fixtures", "reference_hour")


def _load(path):
    with open(path) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def golden():
    if not os.path.isdir(FIXTURES):
        pytest.skip("golden hour fixture not present")
    rows = {n: _load(f"{FIXTURES}/{n}_{HOUR}.json") for n in ("user_exp", "trace", "log")}
    expected = {
        name: _load(f"{FIXTURES}/expected/{name}_{HOUR}.json") for name in oracle.STAGE_FILES
    }
    tlb = _load(f"{FIXTURES}/expected/tlb_metrics/{HOUR}.json")
    return rows, expected, tlb


def test_stage_oracle_matches_golden_hour(golden):
    rows, expected, _ = golden
    got = oracle.expected_stage_outputs(rows["user_exp"], rows["trace"], rows["log"])
    for name, want in expected.items():
        assert oracle.row_multiset(got[name]) == oracle.row_multiset(want), name


def test_tlb_oracle_matches_golden_hour(golden):
    rows, _, tlb = golden
    got = oracle.expected_tlb(rows["user_exp"], rows["trace"], rows["log"])
    assert got == oracle.normalize_tlb(tlb)


def test_check_obs_hour_accepts_golden_and_flags_a_wrong_count(golden):
    rows, expected, tlb = golden
    assert oracle.check_obs_hour(rows, expected, tlb) == []
    bad = {c: dict(m) for c, m in tlb.items()}
    bad["client1"]["retry_count"] += 1
    assert oracle.check_obs_hour(rows, expected, bad)


def test_generators_are_deterministic_in_the_seed():
    shape = {"n_events": 50, "n_clients": 5, "client_skew": 1.0}
    assert gen.obs_hour_rows(7, 3, **shape) == gen.obs_hour_rows(7, 3, **shape)
    assert gen.obs_hour_rows(7, 3, **shape) != gen.obs_hour_rows(8, 3, **shape)
    a = gen.corpus_shard_rows(7, 0, n_docs=200, id_base=0, pii_share=0.05)
    assert a == gen.corpus_shard_rows(7, 0, n_docs=200, id_base=0, pii_share=0.05)
    assert a["planted_pairs"] and a["kinds"]["exact_dup"] and a["kinds"]["pii"]


def test_reference_sized_hours_have_no_same_second_events():
    # as in the reference hour, no two events share a second (here 240 s apart)
    rows = gen.obs_hour_rows(5, 4, n_events=15, n_clients=3, client_skew=0.0)
    stamps = [e["timestamp"] for e in rows["user_exp"]]
    assert len(set(stamps)) == len(stamps)
    assert sum(len(v) for v in rows.values()) == 60


def test_tie_plants_a_same_second_end_then_start():
    rows = gen.obs_hour_rows(5, 4, n_events=15, n_clients=3, client_skew=0.0, tie=True)
    end, start, last = rows["user_exp"][-3:]
    assert end["clientId"] == start["clientId"] == last["clientId"]
    assert (end["eventType"], start["eventType"], last["eventType"]) == (
        "page_view_end", "page_view_start", "page_view_end")
    assert end["timestamp"] == start["timestamp"] < last["timestamp"]
    # the register walk opens a new view at the tied start and closes it 30 s later
    only = [e for e in rows["user_exp"] if e["clientId"] == end["clientId"]][-2:]
    assert oracle.expected_tlb(only, [], [])[end["clientId"]]["page_view_time"] == 30.0
    assert sum(len(v) for v in rows.values()) == 60


def test_corpus_check_flags_planted_pii_in_chunks():
    made = gen.corpus_shard_rows(4, 0, n_docs=200, id_base=0, pii_share=0.05)
    ids, n_chunks = oracle.expected_curate(made["docs"])
    clean = {"curate_ids": ids, "curate_chunks": n_chunks, "chunk_tokens": {"[EMAIL]"}, "pairs": []}
    assert oracle.check_corpus_shard(made, clean) == []
    leaked = {**clean, "chunk_tokens": {made["pii"][0], "[PHONE]"}}
    assert oracle.check_corpus_shard(made, leaked) == ["curate: 1 of 20 planted PII strings in chunks"]


def test_planted_near_duplicates_clear_the_jaccard_threshold():
    made = gen.corpus_shard_rows(3, 0, n_docs=400, id_base=0, pii_share=0.0)
    assert made["pii"] == []
    text = {d["doc_id"]: d["text"] for d in made["docs"]}
    for a, b in made["planted_pairs"]:
        sa, sb = oracle.shingles3(text[a]), oracle.shingles3(text[b])
        assert len(sa & sb) / len(sa | sb) >= 0.5


def test_curate_oracle_folds_exact_duplicates():
    docs = [
        {"doc_id": 5, "text": "alpha beta gamma delta epsilon zeta"},
        {"doc_id": 2, "text": "Alpha  beta gamma delta epsilon zeta"},
        {"doc_id": 9, "text": "w w w w w w w w w w"},
    ]
    ids, chunks = oracle.expected_curate(docs)
    assert ids == {2} and chunks == 1


def test_store_recount_sessions_and_deletes():
    def ev(i, client, ts, etype="click", page="/a"):
        return {"eventId": f"e{i}", "clientId": client, "timestamp": ts, "page": page, "eventType": etype}

    hour0 = {"user_exp": [ev(0, "c1", "2024-11-16T00:00:00Z"), ev(1, "c2", "2024-11-16T00:10:00Z")], "log": []}
    hour3 = {"user_exp": [ev(2, "c1", "2024-11-16T03:00:00Z"), ev(3, "c2", "2024-11-16T03:00:00Z", "logout")], "log": []}
    want = oracle.expected_stores([(0, hour0), (3, hour3)], delete_event="logout", gap_s=7200, cap_s=21600)
    assert want["agg"] == {"c1": 2, "c2": 2}
    assert ("c1", 2, 1, 10800 * 10**6 + 1731715200 * 10**6, 10800 * 10**6 + 1731715200 * 10**6) in want["sessions"]
    assert "c2" not in want["cdc"] and want["cdc"]["c1"] == (3, "/a")
    assert want["cc"] == {"c1": "/a", "/a": "/a", "c2": "/a"}
