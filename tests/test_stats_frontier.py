"""Crafted-input tests for mannwhitney_value_shift and exact_quantiles_events
-- hand-computed and seeded-random expectations that pin the exact-integer
math (tie-averaged doubled ranks, lower order statistics at k = ceil(q*n))
independently of the DuckDB oracle.
"""

from __future__ import annotations

import datetime

from odp_dynamic_data_pipeline_spark.queries import SPARK_QUERIES

T0 = datetime.datetime(2024, 1, 1, 0, 0, 0)


def _ts(minutes: int) -> datetime.datetime:
    return T0 + datetime.timedelta(minutes=minutes)


def _write_events(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).write.parquet(str(tmp_path / "events.parquet"))


def test_mannwhitney_hand_computed(spark, tmp_path):
    # purchase = {1,2,3} cents, view = {2,3,4} cents.  Pooled tie-averaged
    # ranks: 1->1, 2->2.5, 3->4.5, 4->6.  R_a = 8, R_b = 13 =>
    # u2_a = 2*R_a - n_a(n_a+1) = 16 - 12 = 4; u2_b = 26 - 12 = 14.
    # tie_term = (2^3-2) twice = 12.  Rank-biserial r = (2*U_a - na*nb)
    # / (na*nb), and u2_a is ALREADY 2*U_a, so
    # abs_rb_e6 = 1e6*|u2_a - na*nb| // (na*nb) = 1e6*|4 - 9| // 9 = 555555.
    rows = [
        (i, _ts(i), 1, g, v)
        for i, (g, v) in enumerate(
            [("purchase", 0.01), ("purchase", 0.02), ("purchase", 0.03),
             ("view", 0.02), ("view", 0.03), ("view", 0.04),
             ("click", 99.0)]  # other types must be excluded
        )
    ]
    _write_events(spark, tmp_path, rows)
    [r] = SPARK_QUERIES["mannwhitney_value_shift"](spark, str(tmp_path)).collect()
    assert (r.n_a, r.n_b, r.u2_a, r.u2_b, r.tie_term, r.abs_rb_e6) == (
        3, 3, 4, 14, 12, 555555,
    )
    # structural invariant: U_a + U_b == n_a * n_b (doubled)
    assert r.u2_a + r.u2_b == 2 * r.n_a * r.n_b


def test_exact_quantiles_hand_computed(spark, tmp_path):
    # 10 values 1..10 cents: k50 = ceil(5.0) = 5 -> 5th smallest = 5;
    # k90 = 9 -> 9; k99 = ceil(9.9) = 10 -> 10.
    rows = [(i, _ts(i), 1, "view", (i + 1) / 100.0) for i in range(10)]
    _write_events(spark, tmp_path, rows)
    [r] = SPARK_QUERIES["exact_quantiles_events"](spark, str(tmp_path)).collect()
    assert (r.n, r.p50_cents, r.p90_cents, r.p99_cents) == (10, 5, 9, 10)


def test_exact_quantiles_tie_heavy(spark, tmp_path):
    # 9 copies of 7 cents and one 9: every quantile (k=5,9,9) lands on 7
    # except p99 (k = ceil(9.9) = 10) which is the single 9.
    rows = [(i, _ts(i), 1, "view", 0.07 if i < 9 else 0.09) for i in range(10)]
    _write_events(spark, tmp_path, rows)
    [r] = SPARK_QUERIES["exact_quantiles_events"](spark, str(tmp_path)).collect()
    assert (r.n, r.p50_cents, r.p90_cents, r.p99_cents) == (10, 7, 7, 9)


def test_mannwhitney_random_agrees_with_pure_ranks(spark, tmp_path):
    """Seeded random two-sample data with heavy ties: the distributed U
    must equal a direct tie-averaged rank computation."""
    import random

    rng = random.Random(20260815)
    a = [rng.randint(1, 30) for _ in range(80)]   # heavy ties: 30 values
    b = [rng.randint(5, 35) for _ in range(70)]
    rows = [(i, _ts(i), 1, "purchase", v / 100.0) for i, v in enumerate(a)]
    rows += [(1000 + i, _ts(200 + i), 1, "view", v / 100.0) for i, v in enumerate(b)]
    _write_events(spark, tmp_path, rows)
    pooled = sorted(a + b)
    # doubled tie-averaged rank of value v: lo + hi over its run
    first = {}
    for idx, v in enumerate(pooled, 1):
        first.setdefault(v, idx)
    count = {}
    for v in pooled:
        count[v] = count.get(v, 0) + 1
    r2 = {v: 2 * first[v] + count[v] - 1 for v in count}  # lo + hi
    u2a = sum(r2[v] for v in a) - len(a) * (len(a) + 1)
    u2b = sum(r2[v] for v in b) - len(b) * (len(b) + 1)
    tie = sum(c**3 - c for c in count.values())
    [r] = SPARK_QUERIES["mannwhitney_value_shift"](spark, str(tmp_path)).collect()
    assert (r.n_a, r.n_b, r.u2_a, r.u2_b, r.tie_term) == (
        len(a), len(b), u2a, u2b, tie,
    )


def test_exact_quantiles_random_agrees_with_sort(spark, tmp_path):
    """Seeded random values: distributed order statistics must equal the
    k-th smallest of the sorted list for k = ceil(q*n)."""
    import random

    rng = random.Random(20260815)
    vals = [rng.randint(0, 9999) for _ in range(137)]
    rows = [(i, _ts(i), 1, "view", v / 100.0) for i, v in enumerate(vals)]
    _write_events(spark, tmp_path, rows)
    s = sorted(vals)
    n = len(s)
    exp = {q: s[(q * n + 99) // 100 - 1] for q in (50, 90, 99)}
    [r] = SPARK_QUERIES["exact_quantiles_events"](spark, str(tmp_path)).collect()
    assert (r.n, r.p50_cents, r.p90_cents, r.p99_cents) == (
        n, exp[50], exp[90], exp[99],
    )
