"""W2 hard-part tests (SURVEY.md section 7): the window-algebra pairing must
match the literal register-walk on every edge case."""

from __future__ import annotations

import datetime as dt
import json
import random

import pytest

from odp_dynamic_data_pipeline_spark.operators.sessionize import (
    pair_page_views,
    pair_page_views_exact,
)

T0 = dt.datetime(2024, 11, 16, 12, 0, 0)


def mk_events(spark, seq):
    """seq: list of (client, offset_seconds, event_type)."""
    rows = [
        (c, f"e{i}", T0 + dt.timedelta(seconds=off), t)
        for i, (c, off, t) in enumerate(seq)
    ]
    return spark.createDataFrame(rows, "clientId string, eventId string, event_time timestamp, eventType string")


def reference_walk(seq):
    """The reference's 13-line register loop (src/batch_tlb.py:50-62), in
    plain Python, as ground truth: a stable sort by time, so same-second
    events keep their input order."""
    out = {}
    by_client = {}
    for c, off, t in seq:
        by_client.setdefault(c, []).append((off, t))
    for c, evs in by_client.items():
        evs.sort(key=lambda e: e[0])
        last_start = None
        total = []
        for off, t in evs:
            if t == "page_view_start":
                last_start = off
            elif t == "page_view_end" and last_start is not None:
                total.append(float(off - last_start))
                last_start = None
        out[c] = total
    return out


CASES = {
    "simple_pair": [("a", 0, "page_view_start"), ("a", 10, "page_view_end")],
    "unmatched_trailing_start": [("a", 0, "page_view_start")],
    "end_without_start": [("a", 5, "page_view_end")],
    "double_start_overwrites": [
        ("a", 0, "page_view_start"),
        ("a", 5, "page_view_start"),
        ("a", 12, "page_view_end"),
    ],
    "consume_once": [
        ("a", 0, "page_view_start"),
        ("a", 5, "page_view_end"),
        ("a", 7, "page_view_end"),
    ],
    "other_events_ignored": [
        ("a", 0, "page_view_start"),
        ("a", 3, "error"),
        ("a", 9, "page_view_end"),
    ],
    "multi_client": [
        ("a", 0, "page_view_start"),
        ("b", 1, "page_view_start"),
        ("a", 4, "page_view_end"),
        ("b", 9, "page_view_end"),
        ("b", 11, "page_view_end"),
    ],
    "restart_after_consume": [
        ("a", 0, "page_view_start"),
        ("a", 2, "page_view_end"),
        ("a", 5, "page_view_start"),
        ("a", 11, "page_view_end"),
    ],
}


@pytest.mark.parametrize("case", CASES)
def test_window_algebra_matches_reference(spark, case):
    seq = CASES[case]
    df = mk_events(spark, seq)
    got = pair_page_views(df)
    actual = {}
    for r in got.collect():
        actual.setdefault(r["clientId"], []).append(r["page_view_duration"])
    expected = {c: d for c, d in reference_walk(seq).items() if d}
    assert {k: sorted(v) for k, v in actual.items()} == {
        k: sorted(v) for k, v in expected.items()
    }


@pytest.mark.parametrize("case", CASES)
def test_exact_pandas_matches_reference(spark, case):
    seq = CASES[case]
    df = mk_events(spark, seq)
    got = pair_page_views_exact(df)
    actual = {}
    for r in got.collect():
        actual.setdefault(r["clientId"], []).append(r["page_view_duration"])
    expected = {c: d for c, d in reference_walk(seq).items() if d}
    assert {k: sorted(v) for k, v in actual.items()} == {
        k: sorted(v) for k, v in expected.items()
    }


def tie_sequence():
    """Event soups with many same-second ties (c, d; first, so that their
    ids span e0..e239), with unique timestamps per client (a, b), and
    with an end and the next start in one second (e)."""
    rng = random.Random(42)
    seq = []
    for c in ["c", "d", "a", "b"]:
        offs = rng.sample(range(10_000), 120) if c in "ab" else [rng.randrange(40) for _ in range(120)]
        for off in offs:
            t = rng.choice(["page_view_start", "page_view_end", "error", "click"])
            seq.append((c, off, t))
    seq += [("e", 0, "page_view_start"), ("e", 5, "page_view_end"), ("e", 5, "page_view_start"), ("e", 9, "page_view_end")]
    return seq


def durations(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["clientId"], []).append(r["page_view_duration"])
    return {k: sorted(v) for k, v in out.items()}


def test_property_random_sequences(spark):
    """Randomized property test: both implementations == plain-Python
    reference, same-second events in input order.  The eventIds are
    unpadded like the reference's, so their string order is not input
    order, and the rows span several partitions."""
    seq = tie_sequence()
    df = mk_events(spark, seq)
    assert df.rdd.getNumPartitions() > 1
    expected = {c: sorted(d) for c, d in reference_walk(seq).items() if d}
    assert expected["e"] == [4.0, 5.0]

    for impl in (pair_page_views, pair_page_views_exact):
        assert durations(impl(df)) == expected
        # the ties are dense enough that eventId string order breaks them
        assert durations(impl(df, tiebreak_col="eventId")) != expected


def test_input_order_survives_a_split_file_scan(spark, tmp_path):
    """The input ordinal of a JSON-lines file read in several splits is
    file order."""
    from tests.conftest import temp_confs

    seq = tie_sequence()
    with open(tmp_path / "events.json", "w") as f:
        for i, (c, off, t) in enumerate(seq):
            ts = (T0 + dt.timedelta(seconds=off)).isoformat()
            f.write(json.dumps({"clientId": c, "eventId": f"e{i}", "event_time": ts, "eventType": t}) + "\n")
    expected = {c: sorted(d) for c, d in reference_walk(seq).items() if d}
    with temp_confs(spark, {"spark.sql.files.maxPartitionBytes": "4096"}):
        df = spark.read.schema(
            "clientId string, eventId string, event_time timestamp, eventType string"
        ).json(str(tmp_path / "events.json"))
        assert df.rdd.getNumPartitions() > 4
        for impl in (pair_page_views, pair_page_views_exact):
            assert durations(impl(df)) == expected


def test_tlb_metrics_pairs_same_second_end_and_start(spark, tmp_path):
    """A reference-shaped hour (unpadded ids event1..event11) in which
    client1's end event9 and next start event10 share a second: the TLB
    job pairs both views, as the reference's stable sort by time does."""
    from odp_dynamic_data_pipeline_spark.plans import tlb_metrics
    from odp_dynamic_data_pipeline_spark.sources import readers, schemas

    seq = [
        ("client1", 0, "page_view_start"),
        ("client2", 1, "page_view_start"),
        ("client2", 4, "page_view_end"),
    ] + [("client3", 5 + i, "click") for i in range(5)] + [
        ("client1", 10, "page_view_end"),
        ("client1", 10, "page_view_start"),
        ("client1", 30, "page_view_end"),
    ]
    rows = [
        {
            "eventId": f"event{i + 1}",
            "clientId": c,
            "traceId": f"trace{i + 1}",
            "timestamp": (T0 + dt.timedelta(seconds=off)).strftime("%Y-%m-%dT%H:%M:%SZ"),
            "page": "/home",
            "eventType": t,
        }
        for i, (c, off, t) in enumerate(seq)
    ]
    (tmp_path / "user_exp.json").write_text(json.dumps(rows, indent=1))
    (tmp_path / "trace.json").write_text("[]")
    (tmp_path / "log.json").write_text("[]")
    user_exp = readers.read_json(spark, str(tmp_path / "user_exp.json"), schemas.USER_EXP_SCHEMA)
    traces = readers.read_json(spark, str(tmp_path / "trace.json"), schemas.TRACE_SCHEMA)
    logs = readers.read_json(spark, str(tmp_path / "log.json"), schemas.LOG_SCHEMA)
    got = {r["clientId"]: r["page_view_time"] for r in tlb_metrics(user_exp, traces, logs).collect()}

    want = {c: sum(d) for c, d in reference_walk(seq).items()}
    assert want == {"client1": 30.0, "client2": 3.0, "client3": 0.0}
    assert got == want
    # ordering the tie by eventId string would take event10 before event9
    by_id = sorted(range(len(seq)), key=lambda i: (seq[i][1], f"event{i + 1}"))
    assert reference_walk([seq[i] for i in by_id])["client1"] != [10.0, 20.0]


def test_bucketed_walk_equals_per_key_walk(spark):
    """buckets=N must be a pure physical re-keying: outputs identical to
    the one-group-per-key shape on random multi-user event streams
    (including users sharing a bucket, empty-pair users, tied handling
    via the deterministic sort)."""
    import random

    from pyspark.sql import functions as F

    from odp_dynamic_data_pipeline_spark.operators.sessionize import pair_page_views_exact

    rng = random.Random(41)
    rows = []
    for uid in range(17):  # 17 users across 4 buckets
        t = 0
        for _ in range(rng.randint(0, 14)):
            t += rng.randint(1, 50)
            rows.append(
                (str(uid), t, rng.choice(["page_view_start", "page_view_end", "other"]))
            )
    df = spark.createDataFrame(rows, "k string, t long, event_type string").select(
        "k", F.timestamp_seconds("t").alias("ts"), "event_type"
    )
    kw = dict(group_col="k", ts_col="ts", type_col="event_type")
    base = pair_page_views_exact(df, **kw)
    bucketed = pair_page_views_exact(df, buckets=4, **kw)
    key = lambda r: (r["k"], r["end_ts"], r["page_view_duration"])  # noqa: E731
    assert sorted(map(key, base.collect())) == sorted(map(key, bucketed.collect()))
