"""Streaming surface tests: file source + AvailableNow trigger + memory sink,
stateful page-view pairing across micro-batches, stream-static enrichment."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from odp_dynamic_data_pipeline_spark.sources.readers import read_file_stream
from odp_dynamic_data_pipeline_spark.sources.schemas import USER_EXP_SCHEMA, with_event_time
from odp_dynamic_data_pipeline_spark.streaming import (
    pair_page_views_stream,
    run_available_now,
    stream_enrich,
    windowed_event_counts,
)

EVENTS = [
    {"eventId": "e1", "clientId": "cA", "traceId": "t1",
     "timestamp": "2024-11-16T12:00:00Z", "page": "/h", "eventType": "page_view_start"},
    {"eventId": "e2", "clientId": "cA", "traceId": "t2",
     "timestamp": "2024-11-16T12:02:00Z", "page": "/h", "eventType": "page_view_end"},
    {"eventId": "e3", "clientId": "cB", "traceId": "t3",
     "timestamp": "2024-11-16T12:10:00Z", "page": "/h", "eventType": "page_view_start"},
    {"eventId": "e4", "clientId": "cB", "traceId": "t4",
     "timestamp": "2024-11-16T13:30:00Z", "page": "/h", "eventType": "page_view_end"},
]


@pytest.fixture()
def stream_dir(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    # two files = at least two discoverable chunks (JSONL, one file per "hour")
    with open(d / "part1.json", "w") as f:
        for r in EVENTS[:2]:
            f.write(json.dumps(r) + "\n")
    with open(d / "part2.json", "w") as f:
        for r in EVENTS[2:]:
            f.write(json.dumps(r) + "\n")
    return str(d)


def test_file_stream_available_now(spark, stream_dir, tmp_path):
    stream = read_file_stream(spark, stream_dir, USER_EXP_SCHEMA, multiline=False)
    assert stream.isStreaming
    ev = with_event_time(stream)
    counts = windowed_event_counts(ev, window="1 hour", group_cols=["eventType"])
    run_available_now(
        counts, query_name="wincounts", checkpoint=str(tmp_path / "ck1"), output_mode="complete"
    )
    rows = spark.sql("select * from wincounts").collect()
    got = {(r["window"].start.hour, r["eventType"]): r["n_events"] for r in rows}
    assert got[(12, "page_view_start")] == 2
    assert got[(12, "page_view_end")] == 1
    assert got[(13, "page_view_end")] == 1


def test_stateful_pairing_stream(spark, stream_dir, tmp_path):
    stream = with_event_time(read_file_stream(spark, stream_dir, USER_EXP_SCHEMA, multiline=False))
    paired = pair_page_views_stream(stream)
    run_available_now(paired, query_name="paired", checkpoint=str(tmp_path / "ck2"))
    rows = spark.sql("select * from paired").collect()
    got = {r["clientId"]: r["page_view_duration"] for r in rows}
    # cA pairs within one file; cB's start and end arrive in DIFFERENT files
    # (micro-batches) -- the register must survive in the state store
    assert got["cA"] == 120.0
    assert got["cB"] == 4800.0


def test_stream_static_enrich(spark, stream_dir, tmp_path):
    stream = read_file_stream(spark, stream_dir, USER_EXP_SCHEMA, multiline=False)
    mapping = spark.createDataFrame(
        [("t1", "sess-1"), ("t3", "sess-3")], "key string, sessionLabel string"
    )
    enriched = stream_enrich(stream, mapping, key_col="traceId")
    run_available_now(enriched, query_name="enriched", checkpoint=str(tmp_path / "ck3"))
    rows = {r["eventId"]: r["sessionLabel"] for r in spark.sql("select * from enriched").collect()}
    assert rows == {"e1": "sess-1", "e2": None, "e3": "sess-3", "e4": None}


# ---------------------------------------------------------------------------
# the register walk across micro-batches, driven without a state store
# ---------------------------------------------------------------------------


def _drive_walk(chunks_per_batch, key):
    """Feed micro-batches (list of pandas chunk-lists) through
    ``_walk_group_batch`` the way pair_page_views_stream's state function
    does: concat a batch's chunks, start from the carried register (int64
    min when none), carry the returned register into the next batch.
    Durations come out as exact integer microseconds (``dur_us``)."""
    import numpy as np
    import pandas as pd

    from odp_dynamic_data_pipeline_spark.streaming.stream import _walk_group_batch

    register = None
    outs = []
    for chunks in chunks_per_batch:
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        out, register = _walk_group_batch(
            pdf,
            np.iinfo(np.int64).min if register is None else register,
            sort_cols=["event_time"],
            ts_col="event_time",
            type_col="eventType",
            start_type="page_view_start",
            end_type="page_view_end",
            group_col="clientId",
            key0=key,
            dur_name="dur_us",
            exact_us=True,
        )
        outs.append(out)
    return pd.concat(outs, ignore_index=True) if outs else pd.DataFrame()


def _ref_register_walk(events):
    """Independent sequential oracle: (ts_us, type) -> list of (end_us, dur_us).
    W2 semantics: start overwrites, end consumes once, unmatched end ignored."""
    reg, out = None, []
    for ts_us, typ in events:
        if typ == "page_view_start":
            reg = ts_us
        elif typ == "page_view_end" and reg is not None:
            out.append((ts_us, ts_us - reg))
            reg = None
    return out


def _ref_register_walk_batched(batches):
    """Sequential oracle over MICRO-BATCHES: each batch is time-sorted
    independently, the register carries across batch boundaries.  This is the
    out-of-contract contract: when a later batch holds events OLDER than the
    carried register (late arrivals within watermark lateness), a late end
    consumes the register exactly once (possibly negative duration) and a
    late start overwrites it — never the duplicate re-pairing the pre-r5
    vectorized walk produced."""
    reg, out = None, []
    for batch in batches:
        for ts_us, typ in sorted(batch):
            if typ == "page_view_start":
                reg = ts_us
            elif typ == "page_view_end" and reg is not None:
                out.append((ts_us, ts_us - reg))
                reg = None
    return out


def test_walk_matches_sequential_oracle():
    """The vectorized register walk == a row-at-a-time reference walk,
    across many random in-contract (event-time ordered across batches)
    micro-batch splits, including chunked delivery within one batch."""
    import random

    import numpy as np
    import pandas as pd

    rng = random.Random(42)
    for trial in range(20):
        n = rng.randint(1, 60)
        ts = sorted(rng.sample(range(1, 10_000), n))
        types = [
            rng.choice(["page_view_start", "page_view_end", "other"]) for _ in range(n)
        ]
        events = [(t * 1_000_000, ty) for t, ty in zip(ts, types)]
        expected = _ref_register_walk(events)

        # split the ordered sequence into 1-4 micro-batches; shuffle rows
        # WITHIN a batch (the walk must sort) and deliver one batch as
        # multiple chunks sometimes (global per-group sort must span chunks)
        cuts = sorted(rng.sample(range(n + 1), rng.randint(0, min(3, n))))
        bounds = [0, *cuts, n]
        batches = []
        for lo, hi in zip(bounds, bounds[1:]):
            rows = events[lo:hi]
            rng.shuffle(rows)
            pdf = pd.DataFrame(
                {
                    "clientId": "c1",
                    "event_time": pd.to_datetime(
                        np.array([e[0] for e in rows], dtype="int64") * 1000
                    ),
                    "eventType": [e[1] for e in rows],
                }
            )
            if len(pdf) > 1 and rng.random() < 0.5:
                mid = len(pdf) // 2
                batches.append([pdf.iloc[:mid], pdf.iloc[mid:]])
            else:
                batches.append([pdf])
        got = _drive_walk(batches, "c1")
        got_pairs = (
            sorted(
                zip(
                    got["end_ts"].astype("int64") // 1000,
                    got["dur_us"].astype("int64"),
                )
            )
            if len(got)
            else []
        )
        assert got_pairs == sorted(expected), f"trial {trial} diverged"


def _batches_to_pdfs(batches_events, rng):
    import numpy as np
    import pandas as pd

    batches = []
    for rows in batches_events:
        rows = list(rows)
        rng.shuffle(rows)
        pdf = pd.DataFrame(
            {
                "clientId": "c1",
                "event_time": pd.to_datetime(
                    np.array([e[0] for e in rows], dtype="int64") * 1000
                ),
                "eventType": [e[1] for e in rows],
            }
        )
        if len(pdf) > 1 and rng.random() < 0.5:
            mid = len(pdf) // 2
            batches.append([pdf.iloc[:mid], pdf.iloc[mid:]])
        else:
            batches.append([pdf])
    return batches


def test_walk_late_end_after_carried_start():
    """OUT-of-contract cross-batch disorder: batch 2 carries events OLDER
    than the register carried from batch 1.  The sequential register walk
    consumes the register on the FIRST late end (one pair, negative
    duration) and ignores further unmatched ends; a late start overwrites
    it.  Regression test for the pre-r5 vectorized walk, which re-paired
    the carried start against EVERY late end."""
    import random

    rng = random.Random(7)
    S, E = "page_view_start", "page_view_end"
    M = 1_000_000
    cases = [
        # carried start @100s, then two late ends: first consumes (dur -90s),
        # second ignored; fresh pair afterwards
        [[(100 * M, S)], [(10 * M, E), (20 * M, E), (150 * M, S), (160 * M, E)]],
        # late START overwrites the carried register; no negative pair
        [[(100 * M, S)], [(20 * M, S), (30 * M, E)]],
        # late end alone: consume once, state must NOT survive the batch
        [[(100 * M, S)], [(10 * M, E)], [(200 * M, E)]],
        # equal-timestamp end (in-contract boundary): zero-duration pair once
        [[(100 * M, S)], [(100 * M, E), (100 * M, E)]],
        # disorder two batches deep
        [[(300 * M, S)], [(250 * M, E), (400 * M, S)], [(350 * M, E), (500 * M, E)]],
    ]
    for i, batches_events in enumerate(cases):
        expected = _ref_register_walk_batched(batches_events)
        got = _drive_walk(_batches_to_pdfs(batches_events, rng), "c1")
        got_pairs = (
            sorted(
                zip(
                    got["end_ts"].astype("int64") // 1000,
                    got["dur_us"].astype("int64"),
                )
            )
            if len(got)
            else []
        )
        assert got_pairs == sorted(expected), f"case {i} diverged"


def test_walk_random_cross_batch_disorder():
    """Randomized batched-oracle equivalence where batches are NOT
    event-time ordered relative to each other (each batch drawn from an
    overlapping time range) — the general disorder the out-of-contract
    guard must survive."""
    import random

    rng = random.Random(99)
    types = ["page_view_start", "page_view_end", "other"]
    for trial in range(30):
        n_batches = rng.randint(1, 4)
        batches_events = []
        for _ in range(n_batches):
            n = rng.randint(0, 12)
            ts = rng.sample(range(1, 5_000), n)
            batches_events.append(
                [(t * 1_000_000, rng.choice(types)) for t in sorted(ts)]
            )
        expected = _ref_register_walk_batched(batches_events)
        got = _drive_walk(
            _batches_to_pdfs([b for b in batches_events if b], rng), "c1"
        )
        got_pairs = (
            sorted(
                zip(
                    got["end_ts"].astype("int64") // 1000,
                    got["dur_us"].astype("int64"),
                )
            )
            if len(got)
            else []
        )
        assert got_pairs == sorted(expected), f"trial {trial} diverged"
