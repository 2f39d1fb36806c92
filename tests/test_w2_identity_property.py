"""Property-based validation of the W2 window-algebra identity.

The registry's oracles for tlb_session_metrics(_stream), sql_frontend_tlb
and sessionize_exact_pandas rest on one claim: *the register is live iff
the latest prior start comes after the latest prior end in walk order*.
Walk order is ``(ts, event_id)``, so "after" compares walk positions, not
timestamps: a start in the same second as the end before it is live.
Hypothesis drives hundreds of random event tapes, same-timestamp ties
included, through the oracle SQL on DuckDB's window engine (fast, no
Spark) and compares against the reference's literal register walk
(src/batch_tlb.py:50-62 semantics); one tied tape also goes through the
Spark implementations.
"""

from __future__ import annotations

import datetime as dt

import duckdb
from hypothesis import example, given, settings
from hypothesis import strategies as st

from odp_dynamic_data_pipeline_spark.queries import ORACLE_SQL, SPARK_QUERIES
from odp_dynamic_data_pipeline_spark.queries.core import TLB_ORACLE

UNIX = dt.datetime(1970, 1, 1)
EPOCH = dt.datetime(2024, 1, 1)
US = dt.timedelta(microseconds=1)
TYPES = ["view", "purchase", "click", "error", "signup"]


def tape_rows(tape, ids):
    """(user_id, event_id, event_type, ts) rows: each event is ``step``
    seconds after the previous one, so a step of 0 is a same-second tie."""
    rows, t = [], 0
    for (uid, typ, step), eid in zip(tape, ids):
        t += step
        rows.append((uid, eid, typ, EPOCH + dt.timedelta(seconds=t)))
    return rows


def register_walk(rows):
    """The reference's register walk over (ts, event_id) order:
    [(user_id, end_us, dur_us)] of every consumed (view, purchase) pair,
    sorted like the oracle's rows (two pairs can end in the same
    microsecond, and the walk emits them in walk order)."""
    out = []
    by_uid = {}
    for uid, eid, typ, ts in rows:
        by_uid.setdefault(uid, []).append((ts, eid, typ))
    for uid in sorted(by_uid):
        last = None
        for ts, _, typ in sorted(by_uid[uid]):
            if typ == "view":
                last = ts
            elif typ == "purchase" and last is not None:
                out.append((uid, (ts - UNIX) // US, (ts - last) // US))
                last = None
    return sorted(out)


def tlb_metrics(rows):
    """Per-user (page_view_time, error, signup, click) from the walk."""
    pairs = register_walk(rows)
    return sorted(
        (
            uid,
            sum(d for u, _, d in pairs if u == uid) / 1e6,
            *(sum(1 for r in rows if r[0] == uid and r[2] == t) for t in ("error", "signup", "click")),
        )
        for uid in {r[0] for r in rows}
    )


def oracle(sql, rows):
    con = duckdb.connect()
    con.execute("CREATE TABLE events (user_id BIGINT, event_id BIGINT, event_type VARCHAR, ts TIMESTAMP)")
    if rows:
        con.executemany("INSERT INTO events VALUES (?, ?, ?, ?)", rows)
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


# user 1: a view, its purchase, then a view in the same second as that
# purchase, which a later purchase consumes -- the tie a timestamp
# comparison drops.  User 2: a same-second view, click and purchase pair
# up; then a view and a purchase in one second whose event ids put the
# purchase first, so it has nothing to consume.
TIED = tape_rows(
    [(1, "view", 0), (1, "purchase", 5), (1, "view", 0), (1, "purchase", 7), (1, "purchase", 3), (1, "view", 0),
     (2, "view", 1), (2, "click", 0), (2, "purchase", 0), (2, "view", 4), (2, "purchase", 0)],
    [0, 1, 2, 3, 4, 5, 6, 7, 8, 10, 9],
)


@st.composite
def tapes(draw):
    tape = draw(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=2),  # user_id
                st.sampled_from(TYPES),
                st.integers(min_value=0, max_value=1),  # seconds since the previous event
            ),
            max_size=60,
        )
    )
    # event ids in a random order: ties walk by id, not by insertion
    ids = draw(st.permutations(range(len(tape))))
    return tape_rows(tape, ids)


# two pairs of one user that end in the same second
ENDS_TIED = tape_rows([(2, "view", 0), (2, "purchase", 1), (2, "view", 0), (2, "purchase", 0)], [0, 1, 2, 3])


@settings(max_examples=200, deadline=None)
@given(tapes())
@example(TIED)
@example(ENDS_TIED)
def test_window_identity_equals_register_walk(rows):
    assert oracle(ORACLE_SQL["sessionize_exact_pandas"], rows) == register_walk(rows)
    assert oracle(TLB_ORACLE, rows) == tlb_metrics(rows)


def test_tied_tape_through_spark(spark, tmp_path):
    start_us = (EPOCH - UNIX) // US
    assert register_walk(TIED) == [
        (1, start_us + 5_000_000, 5_000_000),
        (1, start_us + 12_000_000, 7_000_000),
        (2, start_us + 16_000_000, 0),
    ]
    sf_dir = str(tmp_path)
    con = duckdb.connect()
    con.execute("CREATE TABLE events (user_id BIGINT, event_id BIGINT, event_type VARCHAR, ts TIMESTAMP)")
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?)", TIED)
    con.execute(f"COPY events TO '{sf_dir}/events.parquet' (FORMAT parquet)")
    for name, expected in [
        ("sessionize_exact_pandas", register_walk(TIED)),
        ("tlb_session_metrics", tlb_metrics(TIED)),
        ("sql_frontend_tlb", tlb_metrics(TIED)),
    ]:
        assert oracle(ORACLE_SQL[name], TIED) == expected, name
        got = sorted(tuple(r) for r in SPARK_QUERIES[name](spark, sf_dir).collect())
        assert got == expected, name
