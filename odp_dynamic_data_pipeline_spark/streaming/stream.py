"""Structured Streaming surface (SURVEY.md section 2.7).

The reference *declares* streaming intent (Kafka topic setup, "user
experience stream" in the DAG docstring) but implements hourly batch files
discovered by an HTTP-polling sensor (reference: src/pipeline_dag.py:65-88).
Spark-native replacements:

* file-arrival sensor  -> streaming file source; ``Trigger.AvailableNow``
  gives exactly the hourly catch-up semantics with no polling code;
* late/out-of-order    -> event-time watermarks;
* hourly aggregation   -> windowed aggregation on event time;
* page-view pairing    -> applyInPandasWithState: the same register walk as
  operators.sessionize, with the register persisted in the state store
  across micro-batches;
* Redis mapping hop    -> stream-static broadcast join against the mapping
  DataFrame.

At scale these run identically on a 1000-executor cluster: state is
partitioned by group key in the state store, file discovery is driver-side
metadata only, and the static side of stream-static joins broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _parallel_sink_writes(*thunks) -> None:
    """Run a fold's INDEPENDENT sink writes as concurrent Spark jobs
    (guide §2.6: actions are only sequential because the driver calls
    them sequentially).  The heavy store folds are job-latency bound
    (r13 receipts: 0.55 s warm for an empty 2-batch drain; multi-second
    folds are 2-4 blocking submissions each), and folds end with writes
    to DISJOINT paths that share persisted intermediates -- overlapping
    them saves one to two submissions of
    latency per fold locally, and at cluster scale lets one write's
    straggler tail back-fill the other's executors.

    Safety: concurrent jobs that race to compute the same persisted
    partition serialize per block in the BlockManager (one computes, the
    others read).  Retry semantics are unchanged -- every sink is an
    overwrite of a batch-keyed path (or a manifest commit whose replay
    rule already covers a crash between sinks), so a partially-written
    fold replays identically whatever order the writes landed in.  The
    writes run on ``InheritableThread``s, so the caller's job group and
    local properties (and cancellation by job group) reach their jobs.
    Every write failure propagates after all writes settle, so the
    enclosing foreachBatch still fails loudly: the first is raised, each
    other one attached to it as a note."""
    if len(thunks) == 1:
        thunks[0]()
        return
    from pyspark import InheritableThread

    errs: list[BaseException | None] = [None] * len(thunks)

    def run(i):
        try:
            thunks[i]()
        except BaseException as e:  # noqa: BLE001 -- collect, raise below
            errs[i] = e

    threads = [InheritableThread(target=run, args=(i,)) for i in range(len(thunks))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    failed = [e for e in errs if e is not None]
    if failed:
        import traceback

        first = failed[0]
        for other in failed[1:]:
            first.add_note(
                "concurrent sink write also failed:\n" + "".join(traceback.format_exception(other))
            )
        raise first


def windowed_event_counts(
    stream: DataFrame,
    *,
    ts_col: str = "event_time",
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Tumbling (default) or hopping (``slide`` < ``window``) window counts
    with a watermark bounding state for late data; with a slide every event
    lands in window/slide overlapping windows, each a separate state row."""
    win = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win, *(group_cols or []))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def session_window_metrics(
    stream: DataFrame,
    *,
    ts_col: str = "event_time",
    gap: str = "30 minutes",
    group_col: str = "clientId",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based session windows per client (coarse sessionization; the
    exact start/end pairing lives in pair_page_views_stream)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(group_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
    )


def stream_enrich(stream: DataFrame, mapping: DataFrame, key_col: str, mapping_key: str = "key") -> DataFrame:
    """Stream-static enrichment join: the static mapping side broadcasts to
    every micro-batch (replaces the reference's per-stage Redis read)."""
    value_cols = [c for c in mapping.columns if c != mapping_key]
    m = mapping.select(
        F.col(mapping_key).alias("__k"), *[F.col(c) for c in value_cols]
    )
    out = stream.join(F.broadcast(m), stream[key_col] == F.col("__k"), "left")
    return out.drop("__k")


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str = "event_time",
    right_ts: str = "event_time",
    left_watermark: str = "1 hour",
    right_watermark: str = "1 hour",
    within: str = "30 minutes",
    how: str = "inner",
    right_prefix: str = "r_",
) -> DataFrame:
    """Stream-stream equi join with a symmetric event-time bound: rows pair
    when keys match AND ``|right_ts - left_ts| <= within``.

    Both sides carry watermarks, which is what lets Spark EVICT buffered
    rows from the join state store -- without the time bound, either side's
    state would grow forever on an unbounded stream.  State per key is
    bounded by (watermark + within).  Right-side columns are prefixed to
    avoid collisions; the join key and both timestamps keep their names
    (key from the left, ``<right_prefix><right_ts>`` for the right time).

    Outer variants ('left_outer', 'right_outer', 'full_outer') are allowed
    by Spark only with both the watermark and the time-range condition --
    this helper always supplies both, so any ``how`` passes analysis.
    """
    lw = left.withWatermark(left_ts, left_watermark)
    rw = right.withWatermark(right_ts, right_watermark)
    renamed = rw.select(
        F.col(on).alias("__rk"),
        *[F.col(c).alias(f"{right_prefix}{c}") for c in rw.columns if c != on],
    )
    r_ts = f"{right_prefix}{right_ts}"
    cond = (
        (F.col(on) == F.col("__rk"))
        & (F.col(r_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {within}"))
        & (F.col(r_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {within}"))
    )
    return lw.join(renamed, cond, how).drop("__rk")


def dedup_within_watermark(
    stream: DataFrame,
    keys: list[str] | str,
    *,
    ts_col: str = "event_time",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming dedup with BOUNDED state: a duplicate arriving within the
    watermark of its first occurrence is dropped; state for keys older than
    the watermark is evicted.  Contrast with plain ``dropDuplicates`` on a
    stream, whose key state grows forever."""
    if isinstance(keys, str):
        keys = [keys]
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def _walk_group_batch(
    pdf,
    init_start: int,
    *,
    sort_cols,
    ts_col,
    type_col,
    start_type,
    end_type,
    group_col,
    key0,
    dur_name,
    exact_us,
):
    """Closed-form W2 register walk over one group's (concatenated)
    micro-batch, the per-group step of :func:`pair_page_views_stream`.
    Module-level so the cross-batch semantics are drivable directly:
    feed its returned register back in as the next batch's ``init_start``
    (int64 min = no register), exactly as the state function does.

    Returns ``(out_pdf, register)`` where ``register`` is the last unmatched
    start in integer microseconds, or ``None`` when the register is consumed
    or absent at batch end.

    The cummax identity (an end emits iff running-max start > running-max
    end) equals the sequential register walk only when the carried register
    is no newer than every start/end in the batch — the in-contract,
    event-time-ordered-across-batches case.  Late rows (bounded by watermark
    lateness) sort BEFORE the carried start and would otherwise re-pair
    against it on EVERY late end; the guard replays the sequential semantics
    for the carried scalar alone: a first late END consumes the register
    exactly once (single pair, possibly negative duration — exactly what the
    row-at-a-time walk emitted), a first late START overwrites it.  Either
    way the carried register is dead before the identity runs, so the
    identity's init resets to "empty"."""
    import numpy as np
    import pandas as pd

    NEG = np.iinfo(np.int64).min
    pdf = pdf.sort_values(sort_cols, kind="mergesort")
    ts_np = pdf[ts_col].to_numpy("datetime64[ns]")
    ts_us = ts_np.astype(np.int64) // 1000
    tv = pdf[type_col].to_numpy()
    is_start = tv == start_type
    is_end = tv == end_type
    first_pair = None
    if init_start != NEG:
        se = np.flatnonzero(is_start | is_end)
        if len(se) and ts_us[se[0]] < init_start:
            j = se[0]
            if is_end[j]:
                first_pair = (ts_np[j], int(ts_us[j]) - init_start)
            init_start = NEG
    s = np.where(is_start, ts_us, NEG)
    e = np.where(is_end, ts_us, NEG)
    prev_s = np.maximum.accumulate(np.concatenate(([init_start], s)))[:-1]
    prev_e = np.maximum.accumulate(np.concatenate(([NEG], e)))[:-1]
    emit = is_end & (prev_s != NEG) & (prev_s > prev_e)
    end_ts = ts_np[emit]
    dur_us_arr = (ts_us[emit] - prev_s[emit]).astype(np.int64)
    if first_pair is not None:
        end_ts = np.concatenate(([first_pair[0]], end_ts))
        dur_us_arr = np.concatenate(
            ([np.int64(first_pair[1])], dur_us_arr)
        ).astype(np.int64)
    out = pd.DataFrame(
        {
            group_col: np.repeat(key0, len(dur_us_arr)),
            "end_ts": end_ts,
            dur_name: dur_us_arr if exact_us else dur_us_arr / 1_000_000.0,
        }
    )
    last_start = max(init_start, int(s.max()) if len(s) else NEG)
    last_end = int(e.max()) if len(e) else NEG
    if last_start == NEG or last_start <= last_end:
        return out, None
    return out, int(last_start)


def pair_page_views_stream(
    stream: DataFrame,
    *,
    group_col: str = "clientId",
    ts_col: str = "event_time",
    type_col: str = "eventType",
    start_type: str = "page_view_start",
    end_type: str = "page_view_end",
    state_ttl_ms: int | None = None,
    order_cols: list[str] | None = None,
    group_type: str = "string",
    duration_unit: str = "seconds",
) -> DataFrame:
    """Streaming page-view pairing with the register persisted across
    micro-batches in the state store (W2 exact semantics: overwrite on
    double start, consume-once, ignore unmatched end).

    Events are processed in event-time order *within* each micro-batch
    (``order_cols`` adds a deterministic tiebreak for equal timestamps);
    cross-batch disorder is bounded by upstream watermarking/file cadence
    (the reference's hourly batches have the same property).  Late rows that
    arrive BELOW the carried register's timestamp are still handled with the
    sequential walk's semantics (consume-once / overwrite) by an explicit
    guard in :func:`_walk_group_batch`.

    The walk is VECTORIZED: the sequential register semantics have a closed
    form (the same window identity operators.sessionize uses batch-side) --
    an end event emits iff the running-max start timestamp exists and is
    newer than the running-max end timestamp -- so each group's micro-batch
    is two numpy cummax passes, not a Python row loop.  The register state
    carried across batches stays one scalar: it is stored only while live
    (consume-once removes it), so "live" == "state exists".

    ``state_ttl_ms`` bounds state growth: a register older than the TTL (in
    event time; requires a watermark on the input) is dropped -- the
    streaming analogue of the reference discarding unmatched trailing starts
    at batch end.  Without it, one start-without-end per client would pin
    state forever on an unbounded key space.

    ``duration_unit='us'`` emits exact integer microseconds (column
    ``dur_us``) so a downstream sum can divide ONCE -- bit-identical to the
    batch aggregate; the default emits per-pair seconds as double.
    """
    exact_us = duration_unit == "us"
    dur_field = "dur_us long" if exact_us else "page_view_duration double"
    dur_name = dur_field.split(" ")[0]
    out_schema = f"{group_col} {group_type}, end_ts timestamp, {dur_field}"
    state_schema = "last_start_us long"
    sort_cols = order_cols or [ts_col]
    timeout_mode = (
        GroupStateTimeout.EventTimeTimeout if state_ttl_ms else GroupStateTimeout.NoTimeout
    )

    def walk(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        if state.hasTimedOut:
            # expire the unmatched register (reference drops trailing starts)
            state.remove()
            return
        NEG = np.iinfo(np.int64).min
        init_start = state.get[0] if state.exists else NEG
        # A group's micro-batch can arrive as SEVERAL chunks; event-time
        # order must be global per group, so concat before the sort.
        chunks = list(pdfs)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        out, register = _walk_group_batch(
            pdf,
            init_start,
            sort_cols=sort_cols,
            ts_col=ts_col,
            type_col=type_col,
            start_type=start_type,
            end_type=end_type,
            group_col=group_col,
            key0=key[0],
            dur_name=dur_name,
            exact_us=exact_us,
        )
        if register is None:
            if state.exists:
                state.remove()
        else:
            state.update((register,))
            if state_ttl_ms:
                expiry = register // 1000 + state_ttl_ms
                # timeout must be beyond the current watermark
                expiry = max(expiry, state.getCurrentWatermarkMs() + 1)
                state.setTimeoutTimestamp(expiry)
        yield out

    return stream.groupBy(group_col).applyInPandasWithState(
        walk, out_schema, state_schema, "append", timeout_mode
    )


def apply_incremental_agg_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    *,
    key_cols: list[str],
    count_col: str = "n",
    sum_col: str | None = None,
    n_buckets: int = 64,
) -> None:
    """One micro-batch fold of :func:`run_incremental_agg` -- exposed at
    module level so retry idempotency (same batch_id applied twice) is
    directly testable without checkpoint surgery, and so a non-streaming
    caller can fold a backfill batch with the identical protocol."""
    from pyspark.sql import functions as SF

    from odp_dynamic_data_pipeline_spark.streaming.kvstore import (
        ManifestStore,
        bucket_col,
        ensure_store_config,
    )

    spark = batch_df.sparkSession
    store = ManifestStore(spark, store_path)
    aggs = [SF.count(SF.lit(1)).alias(count_col)]
    if sum_col:
        aggs.append(SF.sum(sum_col).alias(f"sum_{sum_col}"))
    refold = [
        SF.sum(count_col).alias(count_col),
        *([SF.sum(f"sum_{sum_col}").alias(f"sum_{sum_col}")] if sum_col else []),
    ]

    bexpr = bucket_col(key_cols, n_buckets)
    part = batch_df.groupBy(*key_cols).agg(*aggs)
    base = store.base_for_batch(batch_id)
    # pin the layout knobs at first fold; a later fold with a different
    # n_buckets/key set would silently rehash keys into other buckets
    # (rows invisible to touched-bucket folds) -- fail loudly
    ensure_store_config(
        spark, store_path,
        {"family": "agg", "key_cols": list(key_cols), "n_buckets": n_buckets},
    )
    # delta-merge: fold ONLY the buckets this batch touches
    part = part.withColumn("bucket", bexpr).persist()
    touched = [r.bucket for r in part.select("bucket").distinct().collect()]
    prev = store.read_buckets(base.bucket_map, touched)
    if prev is not None:
        merged = (
            prev.unionByName(part.drop("bucket"))
            .groupBy(*key_cols)
            .agg(*refold)
            .withColumn("bucket", bexpr)
        )
    else:
        merged = part
    store.commit_buckets(batch_id, merged, touched, base)
    part.unpersist()


def run_incremental_agg(
    stream: DataFrame,
    store_path: str,
    *,
    checkpoint: str,
    key_cols: list[str],
    count_col: str = "n",
    sum_col: str | None = None,
    n_buckets: int = 64,
):
    """Incremental materialized aggregate: maintain per-key (count, sum)
    totals in a parquet store, folding in each micro-batch's partial
    aggregate -- the streaming analogue of a materialized view, and the
    pattern behind every "running metrics" table the reference recomputes
    from scratch hourly (src/batch_tlb.py:64-77 re-reads the whole hour).

    Merge protocol (the BUCKETED DELTA-MERGE of kvstore.ManifestStore):
    keys hash into ``n_buckets`` buckets; per batch, aggregate the batch
    (tiny), read only the store buckets it TOUCHES, union + re-aggregate,
    write them to a NEW version directory (``bucket=K`` partitions), then
    flip the manifest, whose bucket->version map names the version that
    owns each bucket (one atomic file flip, so readers always see a
    consistent store).  Per-batch read+write cost is proportional to the
    buckets the batch touches, not to the store (receipt: store_growth
    rehearsal row ``store_growth_agg_bucketed``).  Idempotent under
    foreachBatch retries: the version directory is keyed by batch_id, and
    a retry after a successful flip rebuilds from the recorded PARENT map
    -- the store never double-counts because the manifest only ever
    advances to a fully written version.  Size ``n_buckets`` to the
    keyspace; it is pinned in the store's ``_CONFIG`` at the first fold.
    The poor-man's table format: what Delta/Iceberg do with file-level
    manifests, expressed in plain parquet + one swap file."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        apply_incremental_agg_batch(
            batch_df,
            batch_id,
            store_path,
            key_cols=key_cols,
            count_col=count_col,
            sum_col=sum_col,
            n_buckets=n_buckets,
        )

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def read_incremental_agg(spark, store_path: str) -> DataFrame:
    """Read the current state of a run_incremental_agg store: the union
    of per-bucket paths named by the manifest's bucket map (one
    multi-path read -- a version directory may also hold STALE buckets
    superseded by later versions, so the map, not the directory, is the
    source of truth)."""
    from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore

    return ManifestStore(spark, store_path).read_current()


def run_available_now(
    stream: DataFrame,
    *,
    format: str = "memory",
    query_name: str = "out",
    path: str | None = None,
    checkpoint: str | None = None,
    output_mode: str | None = None,
):
    """Process everything currently available, then stop -- the direct
    replacement for the reference's poll-until-file-exists sensors.

    Note on modes: a watermarked aggregation in *append* mode only emits
    windows the watermark has passed; for a finite AvailableNow catch-up over
    an aggregation, use ``output_mode='complete'`` (or 'update') to see the
    open windows."""
    w = stream.writeStream.format(format).trigger(availableNow=True)
    if output_mode:
        w = w.outputMode(output_mode)
    if query_name:
        w = w.queryName(query_name)
    if path:
        w = w.option("path", path)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    q = w.start()
    q.awaitTermination()
    return q


def apply_incremental_sessions_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    out_path: str,
    *,
    group_col: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = 28800,
    cap_s: int = 86400,
    n_buckets: int = 64,
) -> None:
    """One micro-batch of streaming gap+cap sessionization (the stateful
    twin of operators.sessionize.sessionize_capped) -- exposed at module
    level so retry idempotency and the chronology guard are directly
    testable without checkpoint surgery.

    State = ONE open session per group seen so far: (group, session_n,
    n_events, start_us, last_us), laid out in hash buckets with the
    bucketed delta-merge discipline of apply_incremental_agg_batch
    (versioned bucket partitions + one atomic manifest flip carrying a
    bucket->version map), so a batch reads and rewrites ONLY the buckets
    its groups hash into -- per-batch cost is batch-driven, not
    store-size-driven.  Sessions CLOSED inside the batch (a later event
    broke them on the gap or the cap) are appended idempotently to
    ``{out_path}/batch={batch_id}`` (a post-flip retry recomputes the
    identical rows from the recorded parent state).

    Requires chronological batches: every event time in a batch must be
    >= the store's high-water mark (equal allowed -- tie order cannot
    change gap/cap decisions).  The guard RAISES on a late batch instead
    of silently corrupting session boundaries; upstream replays satisfy
    it by splitting drops on event time, exactly how hourly file drops
    arrive in the reference's world.

    NULL group keys are EXCLUDED from sessionization (advisor r13 note,
    now a documented contract): a null ``group_col`` row hashes into a
    regular bucket (xxhash64 skips null args), but the per-bucket pandas
    walk groups by the key and pandas drops NaN groups -- such rows
    produce no sessions and no state.  Matches the batch twin, whose
    window partitionBy puts nulls in their own partition that no oracle
    query reads."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as SF
    from pyspark.sql.types import LongType, StructField, StructType

    spark = batch_df.sparkSession
    gap_us, cap_us = gap_s * 1_000_000, cap_s * 1_000_000

    from odp_dynamic_data_pipeline_spark.streaming.kvstore import (
        ManifestStore,
        bucket_col,
        ensure_store_config,
    )

    b = batch_df.select(group_col, ts_col)
    bexpr = bucket_col([group_col], n_buckets)
    part = b.withColumn("bucket", bexpr).persist()
    # one aggregation job carries the event-time range AND the touched
    # buckets (bounded: <= n_buckets ints) -- the fold is job-latency
    # bound, and the former separate distinct-collect was a whole extra
    # blocking submission (r13)
    lim = part.agg(
        SF.min(SF.unix_micros(ts_col)).alias("mn"),
        SF.max(SF.unix_micros(ts_col)).alias("mx"),
        SF.collect_set("bucket").alias("touched"),
    ).first()
    if lim["mn"] is None:
        part.unpersist()
        return  # empty batch: state and output unchanged
    batch_min, batch_max = int(lim["mn"]), int(lim["mx"])

    store = ManifestStore(spark, store_path, n_extras=2)
    # pin layout + semantics knobs: an n_buckets/group_col mismatch
    # rehashes state into invisible buckets; a gap/cap mismatch changes
    # session boundaries mid-store.  Both corrupt silently -- fail loudly.
    ensure_store_config(
        spark, store_path,
        {
            "family": "sessions",
            "group_col": group_col,
            "ts_col": ts_col,
            "gap_s": gap_s,
            "cap_s": cap_s,
            "n_buckets": n_buckets,
        },
    )
    # retry rule lives in base_for_batch: a post-flip retry rebuilds from
    # the recorded parent map/high-water mark, never from its own output
    base = store.base_for_batch(batch_id)
    base_map, base_max = base.bucket_map, base.extras[0]
    if base_max is not None and batch_min < base_max:
        part.unpersist()  # raise path must not leak the persisted batch
        raise ValueError(
            f"run_incremental_sessions: late batch (min ts {batch_min} us <"
            f" store high-water mark {base_max} us); sessions require"
            " chronological drops"
        )

    touched = sorted(lim["touched"])
    bucket_state = store.read_buckets(base_map, touched)
    if bucket_state is not None:
        # one read of the touched buckets serves BOTH the seed join and
        # the carried-rows anti-join (the dominant per-batch IO term)
        bucket_state = bucket_state.persist()
        seeds = bucket_state.select(
            SF.col(group_col),
            SF.col("session_n").alias("__seed_sess"),
            SF.col("n_events").alias("__seed_n"),
            SF.col("start_us").alias("__seed_start"),
            SF.col("last_us").alias("__seed_last"),
        )
    else:
        seeds = None

    walk_in = part
    if seeds is not None:
        walk_in = walk_in.join(seeds, group_col, "left")
    else:
        for c in ("__seed_sess", "__seed_n", "__seed_start", "__seed_last"):
            walk_in = walk_in.withColumn(c, SF.lit(None).cast("long"))

    out_schema = StructType(
        [
            batch_df.schema[group_col],
            StructField("session_n", LongType()),
            StructField("n_events", LongType()),
            StructField("start_us", LongType()),
            StructField("last_us", LongType()),
            StructField("is_open", LongType()),
        ]
    )

    def walk(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(ts_col, kind="mergesort")
        ts = pdf[ts_col].to_numpy().astype("datetime64[us]").astype(np.int64)
        n = len(ts)
        seeded = pd.notna(pdf["__seed_sess"].iloc[0])
        if seeded:
            s_sess = int(pdf["__seed_sess"].iloc[0])
            s_n = int(pdf["__seed_n"].iloc[0])
            s_start = int(pdf["__seed_start"].iloc[0])
            s_last = int(pdf["__seed_last"].iloc[0])
        # gap breaks (anchor-independent); position 0 continues the open
        # session iff seeded and within the gap of the stored last event
        brk = np.empty(n, dtype=bool)
        brk[0] = (not seeded) or (ts[0] - s_last > gap_us)
        brk[1:] = (ts[1:] - ts[:-1]) > gap_us
        seg_starts = np.flatnonzero(brk)
        sessions: list[tuple[int, int, int, int]] = []  # (sess, n, start, last)
        sess = s_sess if seeded else 0
        if not brk[0]:
            # continuation segment: [0, e0) under the STORED anchor
            e0 = int(seg_starts[0]) if len(seg_starts) else n
            j = int(np.searchsorted(ts[:e0], s_start + cap_us, side="right"))
            if j == 0:
                # first batch event already beyond the cap: the stored
                # session closes with no new events
                sessions.append((s_sess, s_n, s_start, s_last))
            else:
                sessions.append((s_sess, s_n + j, s_start, int(ts[j - 1])))
            # remaining events of this gap-run open fresh sessions
            i = j
            while i < e0:
                j2 = int(np.searchsorted(ts[:e0], ts[i] + cap_us, side="right"))
                sess += 1
                sessions.append((sess, j2 - i, int(ts[i]), int(ts[j2 - 1])))
                i = j2
        elif seeded:
            # gap broke the stored session at the batch boundary
            sessions.append((s_sess, s_n, s_start, s_last))
        bounds = np.append(seg_starts, n)
        for gi in range(len(seg_starts)):
            s, e = int(bounds[gi]), int(bounds[gi + 1])
            i = s
            while i < e:
                j2 = int(np.searchsorted(ts[s:e], ts[i] + cap_us, side="right")) + s
                sess += 1
                sessions.append((sess, j2 - i, int(ts[i]), int(ts[j2 - 1])))
                i = j2
        arr = np.asarray(sessions, dtype=np.int64).reshape(len(sessions), 4)
        is_open = np.zeros(len(sessions), dtype=np.int64)
        is_open[-1] = 1  # the last session stays open in the store
        group_key = pdf[group_col].iloc[0]
        return pd.DataFrame(
            {
                group_col: np.repeat(group_key, len(sessions)),
                "session_n": arr[:, 0],
                "n_events": arr[:, 1],
                "start_us": arr[:, 2],
                "last_us": arr[:, 3],
                "is_open": is_open,
            }
        )

    def walk_bucket(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # grouped-pandas machinery costs ~4 ms PER GROUP (measured on
        # pair_page_views_exact with one group per user); keying
        # the Arrow stage on the store bucket and looping the UNCHANGED
        # per-user walk in-kernel (~50 us per group) makes the Python
        # stage bucket-count-shaped instead of user-count-shaped
        return pd.concat(
            [walk(sub) for _, sub in pdf.groupby(group_col, sort=False)],
            ignore_index=True,
        )

    walked = (
        walk_in.groupBy("bucket")
        .applyInPandas(walk_bucket, schema=out_schema)
        .persist()
    )
    closed = walked.where(SF.col("is_open") == 0).select(
        group_col, "session_n", "n_events", "start_us", SF.col("last_us").alias("end_us")
    )

    new_open = walked.where(SF.col("is_open") == 1).select(
        group_col, "session_n", "n_events", "start_us", "last_us"
    )
    if bucket_state is not None:
        carried = (
            bucket_state
            .select(group_col, "session_n", "n_events", "start_us", "last_us")
            .join(part.select(group_col).distinct(), group_col, "left_anti")
        )
        new_state = carried.unionByName(new_open)
    else:
        new_state = new_open
    new_state = new_state.withColumn("bucket", bexpr)

    # overlap the two sinks (both read the persisted `walked`); a crash
    # between them replays fine either way -- the closed write is a
    # batch-keyed overwrite and a post-flip retry recomputes identical
    # rows from the recorded parent state (the store's retry rule)
    _parallel_sink_writes(
        lambda: closed.write.mode("overwrite").parquet(
            f"{out_path}/batch={batch_id}"
        ),
        lambda: store.commit_buckets(
            batch_id,
            new_state,
            touched,
            base,
            extras=[max(batch_max, base_max or batch_max), base_max],
        ),
    )
    walked.unpersist()
    part.unpersist()
    if bucket_state is not None:
        bucket_state.unpersist()


def run_incremental_sessions(
    stream: DataFrame,
    store_path: str,
    out_path: str,
    *,
    checkpoint: str,
    group_col: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = 28800,
    cap_s: int = 86400,
    n_buckets: int = 64,
):
    """Streaming gap+cap sessionization over chronological micro-batches:
    foreachBatch drives apply_incremental_sessions_batch (bucketed
    delta-merge open-session store + idempotent per-batch emission of
    closed sessions).  Mergeability argument: a session's boundaries
    depend only on (previous event time, current anchor), both carried in
    the store, so ANY chronological split of the input replays to exactly
    the one-shot batch result -- read_incremental_sessions() is
    hash-identical to sessionize_capped over the union of all drops."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        apply_incremental_sessions_batch(
            batch_df,
            batch_id,
            store_path,
            out_path,
            group_col=group_col,
            ts_col=ts_col,
            gap_s=gap_s,
            cap_s=cap_s,
            n_buckets=n_buckets,
        )

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def read_incremental_sessions(spark, store_path: str, out_path: str) -> DataFrame:
    """Current sessionization result: emitted CLOSED sessions (all
    batch= partitions of the output) plus the store's OPEN sessions --
    exactly the rows sessionize_capped produces over the same events."""
    from pyspark.sql import functions as SF

    from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore, _fs

    open_s = ManifestStore(spark, store_path, n_extras=2).read_current()
    open_s = open_s.select(
        open_s.columns[0], "session_n", "n_events", "start_us", SF.col("last_us").alias("end_us")
    )
    jvm, _, fs = _fs(spark, out_path)
    if fs.exists(jvm.org.apache.hadoop.fs.Path(out_path)):
        # the directory itself, not a batch=* glob: Spark's streaming-sink
        # metadata probe logs a FileNotFoundException for a glob path
        closed = spark.read.parquet(out_path).drop("batch")
        return closed.unionByName(open_s)
    return open_s


def apply_incremental_upsert_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    *,
    key_cols: list[str],
    seq_cols: list[str],
    n_buckets: int = 256,
    delete_col: str | None = None,
) -> None:
    """One micro-batch of the streaming CDC upsert (last-wins materialized
    table): keep, per key, the row with the highest ``seq_cols`` tuple
    seen so far -- the streaming face of MERGE ... WHEN MATCHED UPDATE.
    Unlike the sessionizer there is NO
    chronology requirement: max-by-seq is commutative, so late and
    out-of-order batches fold correctly by construction.

    ``delete_col`` (boolean column) enables DELETE TOMBSTONES -- the
    WHEN MATCHED DELETE half of MERGE.  A delete row competes by seq
    like any update and, when it wins, it is RETAINED in the store as a
    tombstone rather than dropped: dropping it would let a LATE
    out-of-order update with a lower seq resurrect the key on a later
    fold (the Kafka log-compaction delete-retention problem).  Readers
    filter tombstones out (read_incremental_upsert(delete_col=...));
    expire_upsert_tombstones() reclaims them once upstream guarantees no
    older-seq rows can still arrive -- the retention-window contract
    every compacted CDC log has.

    Same bucketed delta-merge store as apply_incremental_agg_batch
    (versioned bucket partitions + atomic manifest flip + rebuild-from-
    parent retries): per-batch IO is touched_buckets * bucket_size, never
    the whole table.  Deterministic winner: (seq_cols...) descending --
    callers include a unique tiebreaker as the last seq col."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as SF

    spark = batch_df.sparkSession
    if delete_col is not None and delete_col not in batch_df.columns:
        raise ValueError(
            f"apply_incremental_upsert_batch: delete_col {delete_col!r} not in"
            f" batch columns {batch_df.columns}"
        )
    order = [SF.col(c).desc() for c in seq_cols]
    w = W.partitionBy(*key_cols).orderBy(*order)
    latest = (
        batch_df.withColumn("__rn", SF.row_number().over(w))
        .where(SF.col("__rn") == 1)
        .drop("__rn")
    )

    from odp_dynamic_data_pipeline_spark.streaming.kvstore import (
        ManifestStore,
        bucket_col,
        ensure_store_config,
    )

    bexpr = bucket_col(key_cols, n_buckets)
    part = latest.withColumn("bucket", bexpr).persist()
    # the touched-bucket collect doubles as the emptiness probe: one job
    # instead of the former separate isEmpty() take (r13).  Like the old
    # early return, an empty batch leaves the store untouched.
    touched = sorted(r["bucket"] for r in part.select("bucket").distinct().collect())
    if not touched:
        part.unpersist()
        return

    store = ManifestStore(spark, store_path, n_extras=2)
    # pin the layout knobs (advisor r10 medium finding): the manifest
    # records neither key_cols nor n_buckets, so a later fold or a
    # maintenance op called with different values would rehash keys into
    # different buckets -- duplicate keys on read, deleted keys
    # resurrecting, no error anywhere.  CONFIG makes the mismatch loud.
    ensure_store_config(
        spark, store_path,
        {
            "family": "upsert",
            "key_cols": list(key_cols),
            "seq_cols": list(seq_cols),
            "n_buckets": n_buckets,
            "delete_col": delete_col,
        },
    )
    base = store.base_for_batch(batch_id)
    prev = store.read_buckets(base.bucket_map, touched)
    if prev is not None:
        merged = (
            prev.unionByName(part.drop("bucket"))
            .withColumn("__rn", SF.row_number().over(w))
            .where(SF.col("__rn") == 1)
            .drop("__rn")
            .withColumn("bucket", bexpr)
        )
    else:
        merged = part

    store.commit_buckets(batch_id, merged, touched, base, extras=[None, None])
    part.unpersist()


def run_incremental_upsert(
    stream: DataFrame,
    store_path: str,
    *,
    checkpoint: str,
    key_cols: list[str],
    seq_cols: list[str],
    n_buckets: int = 256,
    delete_col: str | None = None,
):
    """Streaming CDC upsert: foreachBatch drives
    apply_incremental_upsert_batch; the store always holds exactly the
    latest row per key (by seq), whatever order the batches arrive in.
    With ``delete_col``, delete rows become retained tombstones (see
    apply_incremental_upsert_batch) -- filter them at read time and
    reclaim them with expire_upsert_tombstones."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        apply_incremental_upsert_batch(
            batch_df, batch_id, store_path,
            key_cols=key_cols, seq_cols=seq_cols, n_buckets=n_buckets,
            delete_col=delete_col,
        )

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def read_incremental_upsert(spark, store_path: str, *, delete_col: str | None = None) -> DataFrame:
    """Read the current upsert table: the union of per-bucket paths named
    by the manifest's bucket map.  ``delete_col`` filters out delete
    TOMBSTONES (rows whose winning version was a delete) -- they stay in
    the store so late lower-seq updates cannot resurrect the key, and
    only the read hides them."""
    from pyspark.sql import functions as SF

    from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore

    m = ManifestStore(spark, store_path, n_extras=2)
    if m.read_manifest() is None:
        raise ValueError(f"no upsert store at {store_path}")
    cur = m.read_current()
    if delete_col is not None:
        cur = cur.where(~SF.coalesce(SF.col(delete_col), SF.lit(False)))
    return cur


def expire_upsert_tombstones(
    spark,
    store_path: str,
    *,
    key_cols: list[str],
    delete_col: str,
    n_buckets: int = 256,
) -> int:
    """Reclaim delete tombstones from a CDC upsert store -- the
    delete-retention compaction of a log-compacted topic: run it only
    once upstream guarantees no row with a LOWER seq than any retained
    tombstone can still arrive (otherwise a late update would resurrect
    the deleted key on a later fold).

    Rewrites ONLY the buckets that hold tombstones: survivors move to a
    fresh version, a bucket left empty is DROPPED from the bucket map
    (the commit path cannot write an empty partition -- and an unmapped
    bucket reads as absent, which is exactly right).  One atomic
    manifest flip, same reader guarantees as every fold; run it BETWEEN
    streaming lifecycles like compact_incremental_cc.  Returns the
    number of tombstones expired."""
    from pyspark.sql import functions as SF

    from odp_dynamic_data_pipeline_spark.streaming.kvstore import (
        ManifestStore,
        bucket_col,
        validate_store_config,
    )

    store = ManifestStore(spark, store_path, n_extras=2)
    m = store.read_manifest()
    if m is None:
        return 0
    # advisor r10 medium finding: these knobs must equal the values the
    # folds used -- a mismatch rehashes keys into different buckets and
    # corrupts silently.  Validate against the CONFIG the folds pinned
    # (pre-guard stores have no CONFIG; the caller's values are trusted,
    # matching the old behavior).
    validate_store_config(
        spark, store_path,
        {"key_cols": list(key_cols), "n_buckets": n_buckets, "delete_col": delete_col},
    )
    bexpr = bucket_col(key_cols, n_buckets)
    state = store.read_current().withColumn("bucket", bexpr)
    is_del = SF.coalesce(SF.col(delete_col), SF.lit(False))
    tomb = state.where(is_del).persist()
    tomb_buckets = sorted(r["bucket"] for r in tomb.select("bucket").distinct().collect())
    n_expired = tomb.count()
    tomb.unpersist()
    if not tomb_buckets:
        return 0
    keep = state.where(SF.col("bucket").isin(tomb_buckets)).where(~is_del).persist()
    survivor_buckets = {r["bucket"] for r in keep.select("bucket").distinct().collect()}
    # maintenance flips get the reserved v{B}m{k} namespace (advisor r10):
    # reusing v{B}_r{k} would make a later replay of batch B match
    # base_for_batch's retry rule and rebuild from the PRE-expiry parent,
    # silently resurrecting the tombstones.  With v{B}m{k} the replay
    # folds on top of the expired state -- safe because upsert max-by-seq
    # is idempotent (see fresh_maintenance_version's contract note).
    cur_num = store.version_batch_id(m.current)
    target = store.fresh_maintenance_version(cur_num)
    # an all-tombstone rewrite still writes the (empty) version directory
    # so the manifest's current pointer always names an existing path
    (
        keep.repartition(max(1, len(survivor_buckets)), SF.col("bucket"))
        .write.partitionBy("bucket")
        .parquet(f"{store_path}/{target}")
    )
    keep.unpersist()
    new_map = dict(m.cur_map)
    for k in tomb_buckets:
        if k in survivor_buckets:
            new_map[str(k)] = target
        else:
            new_map.pop(str(k), None)
    store.write_manifest(target, m.current, new_map, m.cur_map, list(m.extras))
    return int(n_expired)


def _cc_close_chain(m: dict) -> dict:
    """Path-compress a remap dict old->new into old->FINAL (every value a
    terminal component).  Keys are unique forever: a comp that merged
    away is never a current label again, because folds resolve labels
    through the chain before contracting."""
    closed: dict = {}

    def resolve(x):
        seen = []
        while x in m and x not in closed:
            seen.append(x)
            x = m[x]
        final = closed.get(x, x)
        for s in seen:
            closed[s] = final
        return final

    return {k: resolve(k) for k in m}


def apply_incremental_cc_batch(
    edges_df: DataFrame,
    batch_id: int,
    store_path: str,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    n_buckets: int = 64,
) -> None:
    """One micro-batch of INCREMENTAL CONNECTED COMPONENTS: maintain the
    (node -> component) labeling of the dedup graph under edge arrivals
    -- the streaming face of dedup_clusters, so cluster-keeper decisions
    stay current per drop instead of recomputing CC corpus-wide.

    Lazy-union design (the weighted-union-find idea expressed in Spark's
    batch model): the label store only ever INSERTS new nodes (labeled
    with their component's canonical min id AT INSERT TIME, bucketed by
    node hash via the shared ManifestStore); when a batch's edges merge
    EXISTING components, the fold records (old_comp -> final_comp) in a
    REMAP CHAIN that rides the manifest's extras line instead of
    rewriting every member row (members live in arbitrary buckets --
    rewriting them would make the batch cost component-size-driven).
    The chain is bounded metadata (one entry per merge EVENT ever, the
    driver-constant class of k-means centroids; compact_incremental_cc
    folds it into the labels and resets it), and riding the manifest
    makes it exactly as atomic and retry-safe as the version pointer: a
    post-flip retry reads the PARENT chain via base_for_batch like
    every other store family.  Readers resolve labels through the
    driver-closed chain with one broadcast join; per-batch work is
    strictly batch-driven: touched buckets hold only the batch's
    endpoint nodes, and the contracted merge graph has one node per
    touched component, not per document.

    Canonical labels are min node ids at every step (component of the
    contracted graph = min of participating labels), so the resolved
    labeling is value-identical to a one-shot min-label CC over the
    union of all edges ever folded -- edge arrival order never matters
    (CC is commutative), which is what makes the stream==batch oracle
    possible."""
    from pyspark.sql import functions as SF

    from odp_dynamic_data_pipeline_spark.operators.dedup import connected_components
    from odp_dynamic_data_pipeline_spark.streaming.kvstore import (
        ManifestStore,
        bucket_col,
        ensure_store_config,
    )

    spark = edges_df.sparkSession
    e = edges_df.select(SF.col(src_col).alias("src"), SF.col(dst_col).alias("dst"))
    nodes = (
        e.select(SF.col("src").alias("node"))
        .unionByName(e.select(SF.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    bexpr = bucket_col(["node"], n_buckets)
    nb = nodes.withColumn("bucket", bexpr)
    # the touched-bucket collect doubles as the emptiness probe (an empty
    # batch yields no buckets): one job instead of the former separate
    # isEmpty() take -- folds are job-latency bound (r13).  Like the old
    # early return, an empty batch leaves the store untouched (no config
    # pin, no manifest flip).
    touched = sorted(r["bucket"] for r in nb.select("bucket").distinct().collect())
    if not touched:
        nodes.unpersist()
        return
    # pin n_buckets: a mismatched later fold would hash nodes into other
    # buckets and miss their stored labels (advisor r10 guard, shared
    # with the upsert/agg/sessions families)
    try:
        ensure_store_config(
            spark, f"{store_path}/labels", {"family": "cc", "n_buckets": n_buckets}
        )
    except Exception:
        nodes.unpersist()  # config-mismatch raise must not leak the persist
        raise
    labels = ManifestStore(spark, f"{store_path}/labels", n_extras=2)
    base = labels.base_for_batch(batch_id)
    chain = dict(base.extras[0]) if base.extras and base.extras[0] else {}
    prev = labels.read_buckets(base.bucket_map, touched)

    from pyspark.sql.types import StructField, StructType

    ctype = e.schema["src"].dataType
    if prev is not None:
        if chain:
            from odp_dynamic_data_pipeline_spark.functions.localrel import (
                local_relation,
            )

            cmap = local_relation(
                spark,
                [(k, v) for k, v in chain.items()],
                StructType(
                    [StructField("old_comp", ctype), StructField("new_comp", ctype)]
                ),
            )
            prev = (
                prev.join(
                    SF.broadcast(cmap), prev["comp"] == cmap["old_comp"], "left"
                )
                .select("node", SF.coalesce("new_comp", "comp").alias("comp"))
            )
        prev = prev.persist()
        # `known` tags comps of previously-stored nodes; it rides the
        # contracted edges so the chain filter below needs NO extra job
        lab = nodes.join(prev, "node", "left").select(
            "node",
            SF.coalesce("comp", SF.col("node")).alias("comp"),
            SF.col("comp").isNotNull().alias("known"),
        )
    else:
        lab = nodes.select(
            "node", SF.col("node").alias("comp"), SF.lit(False).alias("known")
        )
    lab = lab.persist()

    # contract batch edges onto CURRENT component labels, then resolve the
    # merge graph with ONE driver union-find: the contracted graph is
    # batch-driven (one node per touched component or new node), the same
    # bounded class as the chain itself.  A batch too large to collect
    # falls back to the distributed CC fixpoint -- identical labels (both
    # canonicalize to the component minimum); its merge ROWS (existing
    # comps that fused) are still chain-sized and collect fine.
    la = lab.select(
        SF.col("node").alias("src"), SF.col("comp").alias("ca"), SF.col("known").alias("ka")
    )
    lb = lab.select(
        SF.col("node").alias("dst"), SF.col("comp").alias("cb"), SF.col("known").alias("kb")
    )
    ce = (
        e.join(la, "src")
        .join(lb, "dst")
        .where(SF.col("ca") != SF.col("cb"))
        .select(SF.col("ca").alias("id_a"), SF.col("cb").alias("id_b"), "ka", "kb")
        .distinct()
        .persist()
    )
    CC_DRIVER_MAX = 200_000
    ce_rows = ce.limit(CC_DRIVER_MAX + 1).collect()
    # which CURRENT comps belong to previously-stored nodes: only THEIR
    # merges enter the chain (a new-node self-comp never re-appears as a
    # label -- its rows carry the final comp directly, and chaining it
    # would grow the chain with every arriving duplicate node)
    exist_comps = {r["id_a"] for r in ce_rows if r["ka"]} | {
        r["id_b"] for r in ce_rows if r["kb"]
    }
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    if len(ce_rows) <= CC_DRIVER_MAX:
        for row in ce_rows:
            ra, rb = find(row["id_a"]), find(row["id_b"])
            if ra == rb:
                continue
            # attach the larger root under the smaller: roots are always
            # component MINIMA, matching min-label CC canonicalization
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
        scomp_pairs = [(x, find(x)) for x in list(parent)]
    else:
        cnodes = (
            ce.select(SF.col("id_a").alias("cid"))
            .unionByName(ce.select(SF.col("id_b").alias("cid")))
            .distinct()
        )
        scomp_pairs = [
            (r["cid"], r["component"])
            for r in connected_components(cnodes, ce, id_col="cid")
            .where(SF.col("cid") != SF.col("component"))
            .collect()
        ]
        # the LIMIT sample above cannot be trusted for the chain filter on
        # this path: recompute the existing-comp set distributedly (still
        # merge-event-bounded)
        exist_comps = {
            r["c"]
            for r in ce.selectExpr("id_a AS c", "ka AS k")
            .unionByName(ce.selectExpr("id_b AS c", "kb AS k"))
            .where("k")
            .select("c")
            .distinct()
            .collect()
        }
    from odp_dynamic_data_pipeline_spark.functions.localrel import local_relation

    # Arrow-built JVM relation (r13): scomp rides a broadcast join inside
    # EVERY job materializing inserted/new_state -- a pickled-list
    # relation re-pays a Python-worker round trip per job that scans it
    scomp = local_relation(
        spark,
        scomp_pairs,
        StructType([StructField("comp", ctype), StructField("final_comp", ctype)]),
    )

    # the new-node rows carry their FINAL comp directly
    if prev is not None:
        new_nodes = lab.join(prev.select("node"), "node", "left_anti")
    else:
        new_nodes = lab
    inserted = (
        new_nodes.join(SF.broadcast(scomp), "comp", "left")
        .select("node", SF.coalesce("final_comp", "comp").alias("comp"))
        .withColumn("bucket", bexpr)
    )
    if prev is not None:
        new_state = (
            # existing touched-bucket rows, refreshed to final comps
            # (free -- the bucket is being rewritten anyway)
            prev.join(SF.broadcast(scomp), "comp", "left")
            .select("node", SF.coalesce("final_comp", "comp").alias("comp"))
            .withColumn("bucket", bexpr)
            .unionByName(inserted)
        )
    else:
        new_state = inserted

    # fold the batch's merges into the chain and re-close it: an old
    # entry's VALUE may itself have merged this batch (5->1 then 1->0);
    # only EXISTING comps enter (new-node self-comps carry final labels
    # in their rows), keeping the chain merge-event-sized
    new_chain = dict(chain)
    for old, new in scomp_pairs:
        if old != new and old in exist_comps:
            new_chain[old] = new
    new_chain = _cc_close_chain(new_chain)
    labels.commit_buckets(
        batch_id,
        new_state,
        touched,
        base,
        extras=[sorted(new_chain.items()), sorted(chain.items()) or None],
    )
    ce.unpersist()
    lab.unpersist()
    if prev is not None:
        prev.unpersist()
    nodes.unpersist()


def run_incremental_cc(
    stream: DataFrame,
    store_path: str,
    *,
    checkpoint: str,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    n_buckets: int = 64,
    auto_compact_chain: int | None = 10_000,
):
    """Streaming incremental connected components over an edge stream:
    foreachBatch drives apply_incremental_cc_batch.  Edge order and batch
    boundaries never matter (CC is commutative), so arbitrary splits
    replay to the one-shot batch labeling.

    ``auto_compact_chain``: after the AvailableNow drain terminates (a
    natural between-lifecycles maintenance point -- no fold is in
    flight), fold the remap chain into the labels if it exceeds this many
    entries (None disables).  Keeps the manifest-resident chain bounded
    without any operator having to remember compact_incremental_cc."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        apply_incremental_cc_batch(
            batch_df, batch_id, store_path,
            src_col=src_col, dst_col=dst_col, n_buckets=n_buckets,
        )

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if auto_compact_chain is not None:
        # Maintenance is best-effort: the drain above already committed, so
        # a compaction failure (e.g. a pinned-_CONFIG mismatch) must not
        # turn a successful ingest into a caller-visible error.  The chain
        # just stays long until the next maintenance window; correctness is
        # unaffected (reads resolve through the uncompacted chain).
        try:
            maybe_compact_incremental_cc(
                stream.sparkSession, store_path,
                max_chain=auto_compact_chain, n_buckets=n_buckets,
            )
        except Exception as exc:  # noqa: BLE001 -- deliberate log-and-continue
            import warnings

            warnings.warn(
                f"post-drain CC chain auto-compaction on {store_path!r}"
                f" failed ({exc}); the drain itself committed -- compact"
                " manually via maybe_compact_incremental_cc.",
                stacklevel=2,
            )
    return q


def read_incremental_cc(spark, store_path: str, universe: DataFrame | None = None, id_col: str = "doc_id") -> DataFrame:
    """Current labeling: label-store rows resolved through the manifest's
    remap chain (already closed; one broadcast join).  With ``universe``,
    nodes never seen in any edge come back as their own singleton
    component -- the isolated-node semantics of operators.dedup.
    connected_components."""
    from pyspark.sql import functions as SF

    from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore

    store = ManifestStore(spark, f"{store_path}/labels", n_extras=2)
    m = store.read_manifest()
    if m is None:
        raise ValueError(f"no incremental-cc store at {store_path}")
    labels = store.read_current()
    chain = dict(m.extras[0]) if m.extras and m.extras[0] else {}
    if chain:
        ctype = labels.schema["comp"].dataType
        from pyspark.sql.types import StructField, StructType

        from odp_dynamic_data_pipeline_spark.functions.localrel import local_relation

        cmap = local_relation(
            spark,
            [(k, v) for k, v in chain.items()],
            StructType([StructField("old_comp", ctype), StructField("new_comp", ctype)]),
        )
        labels = labels.join(
            SF.broadcast(cmap), labels["comp"] == cmap["old_comp"], "left"
        ).select("node", SF.coalesce("new_comp", "comp").alias("comp"))
    out = labels.select(SF.col("node").alias(id_col), SF.col("comp").alias("component"))
    if universe is not None:
        isolated = universe.select(id_col).join(out.select(id_col), id_col, "left_anti")
        out = out.unionByName(
            isolated.select(SF.col(id_col), SF.col(id_col).alias("component"))
        )
    return out


def compact_incremental_cc(spark, store_path: str, *, n_buckets: int = 64) -> int:
    """Apply the manifest's remap chain to the label store (full rewrite)
    and reset the chain -- the periodic compaction that bounds the
    chain's size, run BETWEEN streaming lifecycles like every other
    maintenance op here.  Returns the number of chain entries folded."""
    from pyspark.sql import functions as SF
    from pyspark.sql.types import StructField, StructType

    from odp_dynamic_data_pipeline_spark.streaming.kvstore import (
        ManifestStore,
        bucket_col,
        validate_store_config,
    )

    store = ManifestStore(spark, f"{store_path}/labels", n_extras=2)
    m = store.read_manifest()
    if m is None:
        return 0
    # same mismatch class as expire_upsert_tombstones: the rewrite below
    # re-buckets every node by n_buckets, so a wrong value scatters the
    # labels where future folds cannot find them
    validate_store_config(spark, f"{store_path}/labels", {"n_buckets": n_buckets})
    chain = dict(m.extras[0]) if m.extras and m.extras[0] else {}
    if not chain:
        return 0
    state = store.read_current()
    ctype = state.schema["comp"].dataType
    from odp_dynamic_data_pipeline_spark.functions.localrel import local_relation

    cmap = local_relation(
        spark,
        [(k, v) for k, v in chain.items()],
        StructType([StructField("old_comp", ctype), StructField("new_comp", ctype)]),
    )
    bexpr = bucket_col(["node"], n_buckets)
    resolved = (
        state.join(SF.broadcast(cmap), state["comp"] == cmap["old_comp"], "left")
        .select("node", SF.coalesce("new_comp", "comp").alias("comp"))
        .withColumn("bucket", bexpr)
        .persist()
    )
    touched = sorted(r["bucket"] for r in resolved.select("bucket").distinct().collect())
    # reserved maintenance namespace (see expire_upsert_tombstones /
    # kvstore.fresh_maintenance_version): a v{B}_r{k} name here would make
    # a later replay of batch B rebuild from the pre-compaction parent,
    # resurrecting the folded chain.  CC merges are idempotent, so the
    # replay-on-top semantics of v{B}m{k} are correct.
    cur_num = store.version_batch_id(m.current)
    target = store.fresh_maintenance_version(cur_num)
    (
        resolved.repartition(max(1, len(touched)), SF.col("bucket"))
        .write.partitionBy("bucket")
        .parquet(f"{store_path}/labels/{target}")
    )
    resolved.unpersist()
    new_map = {str(k): target for k in touched}
    store.write_manifest(target, m.current, new_map, m.cur_map, [None, m.extras[0]])
    return len(chain)


def maybe_compact_incremental_cc(
    spark, store_path: str, *, max_chain: int = 10_000, n_buckets: int = 64
) -> int:
    """Chain-length-triggered compaction: fold the remap chain into the
    label store only once it exceeds ``max_chain`` entries, else no-op.
    This is the AUTOMATIC maintenance policy (r10 verdict item 5): the
    chain is bounded metadata (one entry per merge event ever) but grows
    without bound across lifecycles unless compacted; wiring this at the
    natural maintenance points (end of an AvailableNow drain, the hourly
    rehearsal's maintenance step) bounds it at max_chain + one batch's
    merges without paying the full label rewrite every batch.  Returns
    the number of entries folded (0 = below threshold).

    Default 10k: the chain rides the MANIFEST (parsed on every fold and
    read) and is broadcast on every read -- at ~32 B/entry that is a
    ~320 KB manifest line and a trivially broadcastable map, while a full
    label rewrite is store-size-driven; compacting far below that wastes
    rewrites, far above it bloats every manifest parse."""
    from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore

    m = ManifestStore(spark, f"{store_path}/labels", n_extras=2).read_manifest()
    if m is None:
        return 0
    chain = m.extras[0] if m.extras and m.extras[0] else []
    if len(chain) <= max_chain:
        return 0
    return compact_incremental_cc(spark, store_path, n_buckets=n_buckets)


