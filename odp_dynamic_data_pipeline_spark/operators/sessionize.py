"""W1/W2: ordered per-group page-view pairing (sessionization).

Reference semantics (src/batch_tlb.py:50-62): walk each client's
time-ordered events with one register ``last_start_time``:

* a *start* event sets/overwrites the register;
* an *end* event with a live register emits ``end - start`` seconds and
  resets it;
* an *end* with no live register is ignored;
* other event types leave the register untouched;
* an unmatched trailing start is dropped.

Two implementations:

``pair_page_views``  -- window algebra, fully JVM-side (whole-stage codegen,
no Python in the hot path).  Identity used: at any row, the register is
non-empty iff the latest prior *start* comes after the latest prior *end*
in walk order -- because every end either consumes the register or finds
it already empty.  Walk order is ``(ts, input ordinal)``, the reference's
stable sort by timestamp, so "after" compares positions in that order, not
timestamps: a start in the same second as the preceding end is still
after it.  An end emits iff ``prev_start_pos > prev_end_pos`` (or no prior
end), with duration ``ts - ts of the latest prior start``.

``pair_page_views_exact`` -- applyInPandas running the literal register loop
per group; the semantic reference the algebraic version is property-tested
against (SURVEY.md section 7 hard-part 1).

At scale: both shuffle once on the group key; the window version then sorts
within partitions (Spark's sort-based window execution -- the same
partition-then-sort shape the reference hand-codes at src/batch_tlb.py:41-48).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StructField,
    StructType,
)


def _with_ordinal(df: DataFrame, tiebreak_col: str | None) -> DataFrame:
    """``df`` plus ``__ord``, the order in which the walk takes events of
    one timestamp: ``tiebreak_col`` when given, else the input ordinal --
    ``monotonically_increasing_id`` taken here, before the pairing's
    shuffle, so it follows the rows of each input partition in order and
    the partitions in index order.  For a file scan that is file order
    within a file (the reference reads one file per hour); rows of
    different files order by Spark's file packing, not by name."""
    return df.withColumn("__ord", F.col(tiebreak_col) if tiebreak_col else F.monotonically_increasing_id())


def _walk_page_views(
    df: DataFrame,
    *,
    group_col: str = "clientId",
    ts_col: str = "event_time",
    type_col: str = "eventType",
    start_type: str = "page_view_start",
    end_type: str = "page_view_end",
    tiebreak_col: str | None = None,
    duration_col: str = "page_view_duration",
) -> DataFrame:
    """Every row of ``df`` plus ``duration_col``: on an end that consumes a
    start, the seconds since that start; null on every other row."""
    ordered = Window.partitionBy(group_col).orderBy(F.col(ts_col), F.col("__ord"))
    w = ordered.rowsBetween(Window.unboundedPreceding, -1)
    is_start = F.col(type_col) == start_type
    is_end = F.col(type_col) == end_type
    # ts is non-decreasing in walk order: the latest prior start has the max ts
    prev_start = F.max(F.when(is_start, F.col(ts_col))).over(w)
    prev_start_pos = F.max(F.when(is_start, F.col("__pos"))).over(w)
    prev_end_pos = F.max(F.when(is_end, F.col("__pos"))).over(w)
    is_emit = (
        is_end
        & prev_start_pos.isNotNull()
        & (prev_end_pos.isNull() | (prev_start_pos > prev_end_pos))
    )
    dur = F.col(ts_col).cast("double") - prev_start.cast("double")
    return (
        _with_ordinal(df, tiebreak_col)
        .withColumn("__pos", F.row_number().over(ordered))
        .withColumn(duration_col, F.when(is_emit, dur))
        .drop("__ord", "__pos")
    )


def pair_page_views(
    df: DataFrame,
    *,
    group_col: str = "clientId",
    ts_col: str = "event_time",
    type_col: str = "eventType",
    start_type: str = "page_view_start",
    end_type: str = "page_view_end",
    tiebreak_col: str | None = None,
    duration_col: str = "page_view_duration",
) -> DataFrame:
    """Emit one row per consumed (start, end) pair:
    (group_col, end ts, duration seconds as double).

    Same-timestamp events walk in input order (:func:`_with_ordinal`);
    ``tiebreak_col`` names a column that orders them instead."""
    walked = _walk_page_views(
        df,
        group_col=group_col,
        ts_col=ts_col,
        type_col=type_col,
        start_type=start_type,
        end_type=end_type,
        tiebreak_col=tiebreak_col,
        duration_col=duration_col,
    )
    return walked.filter(F.col(duration_col).isNotNull()).select(
        F.col(group_col), F.col(ts_col).alias("end_ts"), F.col(duration_col)
    )


def pair_page_views_exact(
    df: DataFrame,
    *,
    group_col: str = "clientId",
    ts_col: str = "event_time",
    type_col: str = "eventType",
    start_type: str = "page_view_start",
    end_type: str = "page_view_end",
    duration_col: str = "page_view_duration",
    buckets: int | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """The literal register-walk (reference: src/batch_tlb.py:50-62) as an
    Arrow-batched per-group pandas function.

    ``buckets``: with high-cardinality group keys, grouped-pandas
    machinery costs ~4 ms PER GROUP (measured with one group per user);
    passing ``buckets=N`` keys the Arrow stage
    on ``pmod(abs(hash(group)), N)`` and runs the UNCHANGED per-group walk
    in an in-kernel pandas groupby loop (~50 us per group) -- identical
    semantics, same output, one batch per bucket instead of one per key.
    None (default) keeps the one-group-per-key shape, right for
    bounded-cardinality keys like the TLB clientId universe.

    Same-timestamp events walk in input order, or by ``tiebreak_col``,
    as in :func:`pair_page_views`."""
    out_schema = StructType(
        [
            df.schema[group_col],
            StructField("end_ts", df.schema[ts_col].dataType),
            StructField(duration_col, DoubleType()),
        ]
    )

    def walk(pdf):
        import numpy as np
        import pandas as pd

        # Fully vectorized register walk.  The walk's state collapses to a
        # closed form: the register is None after EVERY end event (a
        # matched end consumes it; an unmatched end implies it was already
        # None -- otherwise it would have matched), so end event e matches
        # exactly the LAST start after the PREVIOUS end, if one exists.
        # That is three accumulate/shift passes over numpy arrays -- no
        # Python loop, identical semantics (overwrite on double start,
        # consume-once, ignore unmatched end).
        pdf = pdf.sort_values([ts_col, "__ord"], kind="mergesort")
        ts = pdf[ts_col].to_numpy()  # datetime64[ns]
        tp = pdf[type_col].to_numpy()
        n = len(ts)
        pos = np.arange(n, dtype=np.int64)
        is_start = tp == start_type
        is_end = tp == end_type
        # position of the most recent start at or before each event
        last_start = np.maximum.accumulate(np.where(is_start, pos, -1))
        end_pos = pos[is_end]
        # position of the previous end before each end (-1 for the first)
        prev_end = np.concatenate(([-1], end_pos[:-1]))
        cand = last_start[end_pos]
        matched = cand > prev_end  # implies cand >= 0
        e_idx = end_pos[matched]
        s_idx = cand[matched]
        one_sec = np.timedelta64(1_000_000_000, "ns")
        group_key = pdf[group_col].iloc[0]
        return pd.DataFrame(
            {
                group_col: np.repeat(group_key, len(e_idx)),
                "end_ts": ts[e_idx],
                duration_col: (ts[e_idx] - ts[s_idx]) / one_sec,
            }
        )

    df = _with_ordinal(df, tiebreak_col)
    if buckets is None:
        return df.groupBy(group_col).applyInPandas(walk, schema=out_schema)

    def walk_bucket(pdf):
        import pandas as pd

        outs = [walk(g) for _, g in pdf.groupby(group_col, sort=False)]
        outs = [o for o in outs if len(o)]
        if not outs:
            return pd.DataFrame(
                {
                    group_col: pd.Series([], dtype=object),
                    "end_ts": pd.Series([], dtype="datetime64[ns]"),
                    duration_col: pd.Series([], dtype="float64"),
                }
            )
        return pd.concat(outs, ignore_index=True)

    bucketed = df.withColumn("__pv_bucket", F.pmod(F.abs(F.hash(group_col)), F.lit(buckets)))
    return bucketed.groupBy("__pv_bucket").applyInPandas(walk_bucket, schema=out_schema)


def sessionize_capped(
    df: DataFrame,
    *,
    group_col: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = 28800,
    cap_s: int = 86400,
    buckets: int | None = None,
) -> DataFrame:
    """Sessionization with BOTH an inactivity gap and an anchor-relative
    duration cap (the web-analytics rule: a session ends after ``gap_s``
    of silence OR when it has lasted ``cap_s`` since its FIRST event).

    Unlike the pure gap rule (one lag + one running sum, all window
    algebra), the cap makes the walk inherently
    sequential: each split's position depends on the previous session's
    ANCHOR, which itself moves at every split -- a data-dependent
    recurrence with no prefix-scan closed form.  So this runs as the
    per-group Arrow-batched pattern (pair_page_views_exact's class):
    one shuffle on the group key, then a greedy in-kernel walk whose
    iteration count is the number of SESSIONS (searchsorted jumps), not
    the number of events.

    Emits one row per session: (group_col, session_n 1-based,
    n_events, start_us, end_us) -- aggregates only, so the operator's
    output is sessions-sized, never events-sized.

    ``buckets``: with high-cardinality group keys, grouped-pandas
    machinery costs ~4 ms PER GROUP (pair_page_views_exact's
    adjudication); ``buckets=N`` keys the Arrow stage on
    ``pmod(xxhash64(group), N)`` and runs the unchanged per-group walk
    in an in-kernel pandas groupby loop -- identical output, one Arrow
    batch per bucket instead of one per key."""
    from pyspark.sql.types import LongType

    out_schema = StructType(
        [
            df.schema[group_col],
            StructField("session_n", LongType()),
            StructField("n_events", LongType()),
            StructField("start_us", LongType()),
            StructField("end_us", LongType()),
        ]
    )
    gap_us = gap_s * 1_000_000
    cap_us = cap_s * 1_000_000

    def walk(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(ts_col, kind="mergesort")
        ts = pdf[ts_col].to_numpy().astype("datetime64[us]").astype(np.int64)
        n = len(ts)
        # gap breaks are anchor-independent: prefix-computable
        brk = np.empty(n, dtype=bool)
        brk[0] = True
        brk[1:] = (ts[1:] - ts[:-1]) > gap_us
        gap_starts = np.flatnonzero(brk)
        bounds = np.append(gap_starts, n)
        # within each gap-run, greedy cap splits: jump to the first event
        # past anchor+cap; iterations = number of emitted sessions
        starts: list[int] = []
        for gi in range(len(gap_starts)):
            s, e = bounds[gi], bounds[gi + 1]
            i = s
            while i < e:
                starts.append(i)
                i = int(np.searchsorted(ts[s:e], ts[i] + cap_us, side="right")) + s
        st = np.asarray(starts, dtype=np.int64)
        en = np.append(st[1:], n) - 1
        group_key = pdf[group_col].iloc[0]
        return pd.DataFrame(
            {
                group_col: np.repeat(group_key, len(st)),
                "session_n": np.arange(1, len(st) + 1, dtype=np.int64),
                "n_events": en - st + 1,
                "start_us": ts[st],
                "end_us": ts[en],
            }
        )

    base = df.select(group_col, ts_col)
    if buckets is None:
        return base.groupBy(group_col).applyInPandas(walk, schema=out_schema)

    def walk_bucket(pdf):
        import pandas as pd

        return pd.concat(
            [walk(sub) for _, sub in pdf.groupby(group_col, sort=False)],
            ignore_index=True,
        )

    return base.groupBy(
        F.pmod(F.xxhash64(group_col), F.lit(buckets)).cast("int")
    ).applyInPandas(walk_bucket, schema=out_schema)
