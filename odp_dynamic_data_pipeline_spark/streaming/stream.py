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
    folds are 2-4 blocking submissions each), and most folds end with
    2-3 writes to DISJOINT batch-keyed paths that share persisted
    intermediates -- overlapping them saves one to two submissions of
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
    stream, whose key state grows forever.  (The cross-batch *persistent*
    fingerprint store is run_incremental_dedup; this is the in-flight,
    bounded-memory variant.)"""
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
    micro-batch.  Shared by both stateful APIs (applyInPandasWithState and
    transformWithStateInPandas) so their semantics cannot drift.

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


def make_pair_processor(
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
):
    """Build the (StatefulProcessor instance, output schema) pair used by
    :func:`pair_page_views_tws`.  Module-level so the processor's register
    logic is directly drivable with a stub StatefulProcessorHandle in tests
    -- the transformWithState WORKER protocol needs protobuf, but the
    processor itself is plain Python, so environments without protobuf can
    still verify this exact class emits the same pairs as the
    applyInPandasWithState twin (tests/test_streaming.py)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    exact_us = duration_unit == "us"
    dur_field = "dur_us long" if exact_us else "page_view_duration double"
    dur_name = dur_field.split(" ")[0]
    out_schema = f"{group_col} {group_type}, end_ts timestamp, {dur_field}"
    sort_cols = order_cols or [ts_col]

    class _PairProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            if state_ttl_ms:
                self._reg = handle.getValueState(
                    "register", "last_start_us long", ttlDurationMs=state_ttl_ms
                )
            else:
                self._reg = handle.getValueState("register", "last_start_us long")

        def handleInputRows(self, key, rows, timerValues):
            import numpy as np
            import pandas as pd

            NEG = np.iinfo(np.int64).min
            last = self._reg.get()
            init_start = last[0] if last is not None else NEG
            chunks = list(rows)
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
                self._reg.clear()
            else:
                self._reg.update((register,))
            yield out

        def close(self) -> None:
            pass

    return _PairProcessor(), out_schema


def pair_page_views_tws(
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
    """Page-view pairing on ``transformWithStateInPandas`` -- the Spark 4
    arbitrary-state API (typed state variables + declarative TTL) that
    succeeds applyInPandasWithState.  Same W2 register semantics as
    :func:`pair_page_views_stream`; the state store schema differs
    (ValueState per key instead of a tuple), which is why this is a
    SEPARATE operator rather than a flag: checkpoints are not migratable
    between the two APIs.

    TTL here is declarative (``ttlDurationMs`` on the state variable, in
    processing time) -- the store expires the register itself, no timer
    bookkeeping in user code.

    Runtime requirement: the transformWithState worker protocol speaks
    protobuf (google.protobuf must be importable on driver and executors);
    environments without it should use :func:`pair_page_views_stream`,
    which has identical semantics on the older API (equivalence of the two
    is asserted by tests/test_streaming.py's stub-handle harness)."""
    processor, out_schema = make_pair_processor(
        group_col=group_col,
        ts_col=ts_col,
        type_col=type_col,
        start_type=start_type,
        end_type=end_type,
        state_ttl_ms=state_ttl_ms,
        order_cols=order_cols,
        group_type=group_type,
        duration_unit=duration_unit,
    )
    return stream.groupBy(group_col).transformWithStateInPandas(
        statefulProcessor=processor,
        outputStructType=out_schema,
        outputMode="append",
        timeMode="None",
    )


def dedup_incremental(
    stream: DataFrame,
    seen_fingerprints: DataFrame,
    *,
    text_col: str = "text",
    fp_col: str = "fingerprint",
) -> DataFrame:
    """Incremental corpus ingestion: drop stream documents whose normalized
    fingerprint already exists in the historical store (stream-static
    LEFT ANTI join; the static side refreshes per micro-batch), then drop
    within-stream repeats (dropDuplicates keyed on the fingerprint, state
    bounded by the upstream watermark if one is set).

    The historical store is just a parquet/Delta table of fingerprints --
    append each batch's survivors to close the loop."""
    from odp_dynamic_data_pipeline_spark.operators.text import fingerprint

    fp = fingerprint(stream, text_col, out_col=fp_col)
    fresh = fp.join(
        F.broadcast(seen_fingerprints.select(fp_col)), fp_col, "left_anti"
    )
    return fresh.dropDuplicates([fp_col])


def run_incremental_dedup(
    stream: DataFrame,
    store_path: str,
    out_path: str,
    *,
    checkpoint: str,
    text_col: str = "text",
    fp_col: str = "fingerprint",
    order_col: str | None = None,
):
    """The closed-loop version of dedup_incremental: per micro-batch,
    anti-join the batch against the CURRENT fingerprint store, append the
    survivors to ``out_path`` and their fingerprints to ``store_path``.

    ``order_col`` makes the within-batch survivor DETERMINISTIC (the row
    with the minimum value per fingerprint, e.g. the smallest doc_id)
    instead of dropDuplicates' arbitrary pick -- required for replayable /
    auditable corpus builds, and what makes the stream==batch oracle query
    (queries.core incremental_dedup_stream) possible.  Same cost class:
    one shuffle on the fingerprint either way.

    The store re-read and the join happen inside foreachBatch because a
    streaming-static join analyzes its static side once -- it would never
    see the store grow.  Idempotency: each batch writes to a batch-keyed
    partition directory with overwrite, so a foreachBatch retry of the same
    batch_id replaces its own output instead of double-appending; the
    checkpoint guarantees each source offset range maps to one batch_id.
    A missing store is detected with an explicit filesystem probe -- any
    other read failure (corrupt store, transient FS error) propagates and
    fails the batch rather than silently disabling dedup.  At scale the
    store is a compacted table keyed by fingerprint (see
    sources.writers.compact_parquet).
    """
    from pyspark.sql import functions as SF

    from odp_dynamic_data_pipeline_spark.operators.text import fingerprint

    def _path_exists(spark, path: str) -> bool:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI.create(path), conf)
        return fs.exists(jvm.org.apache.hadoop.fs.Path(path))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # pin the fingerprint source/layout (advisor r10 guard class): a
        # resume with a different text_col produces incomparable
        # fingerprints -- duplicates silently pass the anti-join
        from odp_dynamic_data_pipeline_spark.streaming.kvstore import (
            ensure_store_config,
        )

        ensure_store_config(
            spark, store_path,
            {"family": "dedup", "text_col": text_col, "fp_col": fp_col,
             "order_col": order_col},
        )
        fp = fingerprint(batch_df, text_col, out_col=fp_col)
        if order_col:
            from pyspark.sql import Window

            w = Window.partitionBy(fp_col).orderBy(order_col)
            fp = (
                fp.withColumn("__rk", SF.row_number().over(w))
                .where(SF.col("__rk") == 1)
                .drop("__rk")
            )
        else:
            fp = fp.dropDuplicates([fp_col])
        fp = fp.persist()
        # probe for DATA partitions, not bare existence: the _CONFIG
        # sidecar creates the store directory before the first batch
        # writes any parquet, and reading a data-less directory fails
        # schema inference
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI.create(store_path), conf
        )
        root = jvm.org.apache.hadoop.fs.Path(store_path)
        has_data = fs.exists(root) and any(
            s.getPath().getName().startswith("batch_id=")
            for s in fs.listStatus(root)
        )
        if has_data:
            # exclude this batch's own partition: a retry must not see the
            # failed attempt's fingerprints and drop the whole batch.
            # Broadcast direction matters at scale: broadcast the BATCH's
            # fingerprints into a semi-join that prunes the store to
            # actual hits (store scanned map-side, never shuffled or
            # broadcast whole), then anti-join the batch against the
            # batch-bounded hit set -- per-batch cost is batch-driven
            # plus a sequential store scan, flat in store size
            seen = (
                spark.read.parquet(store_path)
                .where(SF.col("batch_id") != SF.lit(batch_id))
                .select(fp_col)
            )
            hits = seen.join(
                SF.broadcast(fp.select(fp_col)), fp_col, "left_semi"
            )
            fresh = fp.join(SF.broadcast(hits), fp_col, "left_anti")
        else:  # first batch: no store yet
            fresh = fp
        fresh.persist()
        _parallel_sink_writes(
            lambda: fresh.write.mode("overwrite").parquet(
                f"{out_path}/batch_id={batch_id}"
            ),
            lambda: fresh.select(fp_col).write.mode("overwrite").parquet(
                f"{store_path}/batch_id={batch_id}"
            ),
        )
        fresh.unpersist()
        fp.unpersist()

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def apply_incremental_agg_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    *,
    key_cols: list[str],
    count_col: str = "n",
    sum_col: str | None = None,
    n_buckets: int | None = None,
) -> None:
    """One micro-batch fold of :func:`run_incremental_agg` -- exposed at
    module level so retry idempotency (same batch_id applied twice) is
    directly testable without checkpoint surgery, and so a non-streaming
    caller can fold a backfill batch with the identical protocol."""
    from pyspark.sql import functions as SF

    from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore

    spark = batch_df.sparkSession
    store = ManifestStore(spark, store_path)
    aggs = [SF.count(SF.lit(1)).alias(count_col)]
    if sum_col:
        aggs.append(SF.sum(sum_col).alias(f"sum_{sum_col}"))
    refold = [
        SF.sum(count_col).alias(count_col),
        *([SF.sum(f"sum_{sum_col}").alias(f"sum_{sum_col}")] if sum_col else []),
    ]

    part = batch_df.groupBy(*key_cols).agg(*aggs)
    base = store.base_for_batch(batch_id)
    if n_buckets is None:
        if base.version is not None:
            if base.bucket_map is not None:
                raise ValueError(
                    "store at %r is bucketed (manifest carries a bucket"
                    " map); pass the same n_buckets to keep folding it"
                    % store_path
                )
            prev = spark.read.parquet(f"{store_path}/{base.version}")
            part = prev.unionByName(part).groupBy(*key_cols).agg(*refold)
        store.commit_flat(batch_id, part, base)
        return
    # bucketed delta-merge: fold ONLY the buckets this batch touches
    from odp_dynamic_data_pipeline_spark.streaming.kvstore import ensure_store_config

    # pin the layout knobs at first bucketed fold; a later fold with a
    # different n_buckets/key set would silently rehash keys into other
    # buckets (rows invisible to touched-bucket folds) -- fail loudly
    ensure_store_config(
        spark, store_path,
        {"family": "agg", "key_cols": list(key_cols), "n_buckets": n_buckets},
    )
    bexpr = SF.pmod(SF.xxhash64(*key_cols), SF.lit(n_buckets)).cast("int")
    part = part.withColumn("bucket", bexpr).persist()
    if base.version is not None and base.bucket_map is None:
        # legacy whole-version store: upgrade in place -- fold the full
        # current version once, every bucket comes out mapped
        prev = spark.read.parquet(f"{store_path}/{base.version}")
        merged = (
            prev.unionByName(part.drop("bucket"))
            .groupBy(*key_cols)
            .agg(*refold)
            .withColumn("bucket", bexpr)
            .persist()
        )
        touched = [r.bucket for r in merged.select("bucket").distinct().collect()]
    else:
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
    if merged is not part:
        merged.unpersist()
    part.unpersist()


def run_incremental_agg(
    stream: DataFrame,
    store_path: str,
    *,
    checkpoint: str,
    key_cols: list[str],
    count_col: str = "n",
    sum_col: str | None = None,
    n_buckets: int | None = None,
):
    """Incremental materialized aggregate: maintain per-key (count, sum)
    totals in a parquet store, folding in each micro-batch's partial
    aggregate -- the streaming analogue of a materialized view, and the
    pattern behind every "running metrics" table the reference recomputes
    from scratch hourly (src/batch_tlb.py:64-77 re-reads the whole hour).

    Merge protocol: per batch, aggregate the batch (tiny), read the current
    store, union + re-aggregate, write to a NEW versioned directory, then
    flip a one-line manifest (same swap discipline as compact_parquet).
    Idempotent under foreachBatch retries: the version directory is keyed
    by batch_id, and re-running a batch rebuilds the same next version from
    the same previous version -- the store never double-counts because the
    manifest only ever advances to a fully written version.

    ``n_buckets=None`` (legacy) rewrites the WHOLE aggregate each batch --
    per-batch cost scales with store size; right for dashboard-sized
    tables.  ``n_buckets=B`` switches to the BUCKETED DELTA-MERGE: keys
    hash into B buckets, a version directory contains only the buckets
    the batch TOUCHED (written ``bucket=K`` partitions), and the manifest
    carries a bucket->version map (still one atomic file flip, so readers
    always see a consistent store).  Per-batch read+write cost is then
    proportional to the buckets the batch touches -- batch-driven for
    large keyspaces (receipt: store_growth rehearsal row
    ``store_growth_agg``) -- and a retry after a successful flip rebuilds
    from the recorded PARENT map exactly as the legacy path rebuilds from
    the parent version.  A legacy store upgrades in place: the first
    bucketed batch folds the whole current version once and writes a
    fully bucket-mapped store.  The poor-man's table format: what
    Delta/Iceberg do with file-level manifests, expressed in plain
    parquet + one swap file."""

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


def _agg_manifest(spark, store_path: str) -> tuple[str, str, dict | None, dict | None]:
    """Parse a run_incremental_agg MANIFEST: (current, parent, current
    bucket map, parent bucket map); maps are None for legacy stores.
    Back-compat wrapper over kvstore.ManifestStore."""
    from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore

    m = ManifestStore(spark, store_path).read_manifest()
    if m is None:
        raise ValueError(f"no incremental-agg store at {store_path}")
    return (m.current, m.parent, m.cur_map, m.par_map)


def read_incremental_agg(spark, store_path: str) -> DataFrame:
    """Read the current state of a run_incremental_agg store: the current
    version directory for a legacy store, or the union of per-bucket
    paths named by the manifest's bucket map for a bucketed store (one
    multi-path read -- a version directory may also hold STALE buckets
    superseded by later versions, so the map, not the directory, is the
    source of truth)."""
    from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore

    return ManifestStore(spark, store_path).read_current()


def vacuum_incremental_agg(spark, store_path: str) -> list[str]:
    """Retention for the versioned aggregate store: every micro-batch fold
    writes a new version directory and only flips the manifest, so without
    cleanup the store grows by one full copy of the aggregate per batch.
    Delegates to kvstore.ManifestStore.vacuum -- see its docstring for the
    retention set and the never-strand-a-reader argument.  Returns the
    deleted version names."""
    from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore

    return ManifestStore(spark, store_path).vacuum()


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


def run_incremental_neardup(
    stream: DataFrame,
    store_path: str,
    out_path: str,
    *,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold_e6: int = 500_000,
    hasher: str = "xx",
):
    """Streaming NEAR-duplicate detection: the MinHash+LSH analogue of
    run_incremental_dedup.  Per micro-batch, each new document's hashed
    shingles and band buckets are computed once; candidate pairs come from
    bucket collisions against BOTH the historical store and the batch
    itself, are verified by exact Jaccard over the stored shingle hashes,
    and the batch's buckets + hashes are appended to the store.

    ``hasher``: ``'xx'`` (default) is the xxhash64 production path;
    ``'md5'`` switches the WHOLE family -- shingle hash, permutation
    mins, band bucket keys -- to the engine-portable md5 algebra shared
    with the batch md5 twins (operators.dedup MINHASH_AB), so the
    streaming pair set can sit behind a DuckDB oracle.  Identical store
    protocol and join shapes either way.

    Store layout (both batch-keyed for idempotent retries, same discipline
    as run_incremental_dedup):
      {store_path}/buckets/batch_id=N  -- (id, band, bucket): the LSH index
      {store_path}/hashes/batch_id=N   -- (id, hsh array): verification side
    Output: {out_path}/batch_id=N      -- (id_a, id_b, jaccard_e6), where
    id_b is always the NEW document (id_a may be historical or batch-local).

    Scale shape: the per-batch cost is driven by bucket collisions, not
    store size -- the join is an equi-join on (band, bucket) against a
    bucket table that a real deployment compacts and bucket-partitions
    (sources.writers.compact_parquet / write_bucketed_table); the full
    shingle-hash table is touched only for the verified candidates."""
    from pyspark.sql import functions as SF

    from odp_dynamic_data_pipeline_spark.operators.dedup import (
        hashed_shingles_direct,
        minhash_signatures,
    )

    rows_per_band = num_perm // bands

    def _path_exists(spark, path: str) -> bool:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI.create(path), conf)
        return fs.exists(jvm.org.apache.hadoop.fs.Path(path))

    if hasher not in ("xx", "md5"):
        raise ValueError(f"run_incremental_neardup: hasher must be xx|md5, got {hasher!r}")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # pin the hash family + signature shape (advisor r10): resuming an
        # 'xx' store with hasher='md5' mixes BIGINT and md5-string bucket
        # schemas across batch directories -- cross-batch candidate joins
        # silently miss pairs or the multi-batch read fails opaquely.  The
        # n/num_perm/bands knobs are pinned too: a mismatch puts old and
        # new batches in incomparable signature spaces with no error.
        from odp_dynamic_data_pipeline_spark.streaming.kvstore import (
            ensure_store_config,
        )

        ensure_store_config(
            spark, store_path,
            {
                "family": "neardup",
                "hasher": hasher,
                "n": n,
                "num_perm": num_perm,
                "bands": bands,
            },
        )
        if hasher == "md5":
            from odp_dynamic_data_pipeline_spark.operators.dedup import (
                md5_hashed_shingles,
                md5_minhash_signatures,
            )

            hashed = md5_hashed_shingles(
                batch_df.select(id_col, text_col), id_col, text_col, n=n
            ).persist()
            sig = md5_minhash_signatures(hashed, id_col, num_perm=num_perm)
            band_structs = [
                SF.struct(
                    SF.lit(b).alias("band"),
                    SF.md5(
                        SF.concat_ws(
                            "|",
                            *[
                                SF.col(f"mh_{i}").cast("string")
                                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                            ],
                        )
                    ).alias("bucket"),
                )
                for b in range(bands)
            ]
        else:
            hashed = hashed_shingles_direct(
                batch_df.select(id_col, text_col), id_col, text_col, n=n
            ).persist()
            sig = minhash_signatures(hashed, id_col, num_perm=num_perm)
            band_structs = [
                SF.struct(
                    SF.lit(b).alias("band"),
                    SF.xxhash64(
                        SF.lit(b),
                        *[SF.col(f"mh_{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)],
                    ).alias("bucket"),
                )
                for b in range(bands)
            ]
        buckets = (
            sig.select(SF.col(id_col), SF.explode(SF.array(*band_structs)).alias("bb"))
            .select(id_col, SF.col("bb.band").alias("band"), SF.col("bb.bucket").alias("bucket"))
            .persist()
        )
        # candidates vs the historical store (excluding this batch's own
        # partition -- a retry must not collide with its failed attempt)
        cands = []
        if _path_exists(spark, f"{store_path}/buckets"):
            old_b = (
                spark.read.parquet(f"{store_path}/buckets")
                .where(SF.col("batch_id") != SF.lit(batch_id))
            )
            cands.append(
                buckets.join(
                    old_b.select("band", "bucket", SF.col(id_col).alias("id_a")),
                    ["band", "bucket"],
                )
                .select(SF.col("id_a"), SF.col(id_col).alias("id_b"))
            )
        # batch-internal candidates
        left = buckets.select("band", "bucket", SF.col(id_col).alias("id_a"))
        right = buckets.select("band", "bucket", SF.col(id_col).alias("id_b"))
        cands.append(
            left.join(right, ["band", "bucket"]).where(SF.col("id_a") < SF.col("id_b"))
            .select("id_a", "id_b")
        )
        cand = cands[0]
        for c in cands[1:]:
            cand = cand.unionByName(c)
        cand = cand.dropDuplicates(["id_a", "id_b"]).persist()
        # verification: old ids resolve against the store's hash table,
        # new ids against this batch's.  The store side is pruned to the
        # ids that actually appear in candidate pairs (collision-bounded,
        # broadcast-safe) BEFORE the union, so the shingle-hash table is
        # only ever scanned -- never shuffled whole -- and the join work
        # is candidate-driven, not store-size-driven
        if _path_exists(spark, f"{store_path}/hashes"):
            need = cand.select(SF.col("id_a").alias(id_col)).distinct()
            store_h = (
                spark.read.parquet(f"{store_path}/hashes")
                .where(SF.col("batch_id") != SF.lit(batch_id))
                .join(SF.broadcast(need), id_col, "left_semi")
                .select(id_col, "hsh")
            )
            all_hashes = store_h.unionByName(hashed.select(id_col, "hsh"))
        else:
            all_hashes = hashed.select(id_col, "hsh")
        ha = all_hashes.select(SF.col(id_col).alias("id_a"), SF.col("hsh").alias("h_a"))
        hb = hashed.select(SF.col(id_col).alias("id_b"), SF.col("hsh").alias("h_b"))
        pairs = (
            cand.join(ha, "id_a")
            .join(hb, "id_b")
            .select(
                "id_a",
                "id_b",
                SF.size(SF.array_intersect("h_a", "h_b")).cast("long").alias("inter"),
                SF.size(SF.array_union("h_a", "h_b")).cast("long").alias("uni"),
            )
            .withColumn("jaccard_e6", SF.expr("(1000000 * inter) div uni"))
            .where(SF.col("jaccard_e6") >= threshold_e6)
            .select("id_a", "id_b", "jaccard_e6")
        )
        _parallel_sink_writes(
            lambda: pairs.write.mode("overwrite").parquet(
                f"{out_path}/batch_id={batch_id}"
            ),
            lambda: buckets.write.mode("overwrite").parquet(
                f"{store_path}/buckets/batch_id={batch_id}"
            ),
            lambda: hashed.select(id_col, "hsh").write.mode("overwrite").parquet(
                f"{store_path}/hashes/batch_id={batch_id}"
            ),
        )
        cand.unpersist()
        buckets.unpersist()
        hashed.unpersist()

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def apply_incremental_semdedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    out_path: str,
    *,
    centroids: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.2,
    centroid_path: str = "auto",
) -> None:
    """One micro-batch fold of :func:`run_incremental_semdedup` -- module
    level so retry idempotency and the id-monotonicity guard are directly
    testable without checkpoint surgery (same split as
    apply_incremental_agg_batch)."""
    import hashlib
    import json as _json

    from pyspark.sql import functions as SF

    from odp_dynamic_data_pipeline_spark.operators.similarity import (
        DOT,
        ivf_assign,
        quantized,
    )
    from odp_dynamic_data_pipeline_spark.streaming.kvstore import ensure_store_config

    spark = batch_df.sparkSession
    # pin the layout-determining knobs: a different centroid set, k,
    # threshold, or hash of the centroid VALUES silently changes every
    # later election (vectors assigned to different clusters never meet
    # their witnesses) -- same guard class as the neardup hasher pin.
    cent_md5 = hashlib.md5(
        _json.dumps([[int(x) for x in c] for c in centroids]).encode()
    ).hexdigest()
    ensure_store_config(
        spark,
        store_path,
        {
            "family": "semdedup",
            "k": len(centroids),
            "threshold_e6": int(round(threshold * 1_000_000)),
            "centroid_md5": cent_md5,
            "id_col": id_col,
            "vec_col": vec_col,
        },
    )

    def _path_exists(path: str) -> bool:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI.create(path), conf)
        return fs.exists(jvm.org.apache.hadoop.fs.Path(path))

    asg = (
        ivf_assign(
            quantized(batch_df.select(id_col, vec_col), vec_col),
            centroids,
            nprobe=1,
            centroid_path=centroid_path,
        )
        .select(id_col, SF.col("ivf_list").cast("int").alias("__list"), "qvec", "qnorm")
        .persist()
    )
    # bounded collect license: one row -- the batch's id range (two
    # scalars) plus its touched-cluster set (<= len(centroids) ints).
    # One aggregation job instead of the former two (min/max first() +
    # a separate distinct-list collect): the fold is job-latency bound,
    # every blocking submission counts (r13).
    rng = asg.agg(
        SF.min(id_col).alias("lo"),
        SF.max(id_col).alias("hi"),
        SF.collect_set("__list").alias("touched"),
    ).first()
    if rng["lo"] is None:  # empty batch: nothing to elect, nothing to store
        asg.unpersist()
        return
    # id-monotonicity guard: the keep-first election is exact vs the batch
    # run only when ids never arrive below the stored high-water mark (a
    # lower-id late arrival would need to RETRO-mark an already-emitted
    # row).  meta is a tiny batch-keyed table (one row per batch), so the
    # check reads a handful of rows, never the vector store.
    meta_path = f"{store_path}/meta"
    if _path_exists(meta_path):
        hwm = (
            spark.read.parquet(meta_path)
            .where(SF.col("batch_id") != SF.lit(batch_id))
            .agg(SF.max("max_id"))
            .first()[0]
        )
        if hwm is not None and rng["lo"] <= hwm:
            raise ValueError(
                f"incremental semdedup at {store_path!r}: batch {batch_id}"
                f" min id {rng['lo']} <= stored high-water mark {hwm}."
                " Keep-first elections are id-ordered; feed id-monotone"
                " drops (or re-run the batch dedup over the full corpus)."
            )
    # touched-cluster pruning: the store side is filtered to the clusters
    # this batch actually landed in BEFORE any join -- per-batch store IO
    # is bounded by the touched clusters' sizes, never the store size
    # (collected above, riding the id-range aggregation).
    touched = sorted(rng["touched"])
    dot = SF.expr(DOT.format(a="qa", b="qb"))
    cosine = dot.cast("double") / SF.sqrt(
        SF.col("na").cast("double") * SF.col("nb").cast("double")
    )
    newer = asg.select(
        SF.col(id_col).alias("id_b"),
        SF.col("__list").alias("__l"),
        SF.col("qvec").alias("qb"),
        SF.col("qnorm").alias("nb"),
    )
    pairs = (
        asg.select(
            SF.col(id_col).alias("id_a"),
            SF.col("__list").alias("__l"),
            SF.col("qvec").alias("qa"),
            SF.col("qnorm").alias("na"),
        )
        .join(newer, "__l")
        .where(SF.col("id_a") < SF.col("id_b"))
    )
    vec_path = f"{store_path}/vectors"
    if _path_exists(vec_path):
        stored = (
            spark.read.parquet(vec_path)
            .where(SF.col("batch_id") != SF.lit(batch_id))
            .where(SF.col("__list").isin(touched))
            .select(
                SF.col(id_col).alias("id_a"),
                SF.col("__list").alias("__l"),
                SF.col("qvec").alias("qa"),
                SF.col("qnorm").alias("na"),
            )
        )
        # the HWM guard makes every stored id lower than every batch id,
        # but the predicate stays: correctness must not depend on it
        pairs = pairs.unionByName(
            stored.join(newer, "__l").where(SF.col("id_a") < SF.col("id_b"))
        )
    dup_ids = (
        pairs.select("id_b", cosine.alias("__cos"))
        .where(SF.col("__cos") >= SF.lit(threshold))
        .select(SF.col("id_b").alias(id_col))
        .distinct()
        .withColumn("__dup", SF.lit(1))
    )
    out = (
        asg.select(id_col, SF.col("__list").alias("cluster_id"))
        .join(dup_ids, id_col, "left")
        .select(
            id_col,
            "cluster_id",
            SF.coalesce("__dup", SF.lit(0)).cast("int").alias("is_dup"),
        )
    )
    # the store keeps ALL seen vectors, not only keepers: the election is
    # non-chained (a duplicate still witnesses later duplicates), exactly
    # the batch operator's semantics.  meta rides a JVM-built one-row
    # relation: a local-list createDataFrame executes as a pickled Python
    # RDD and costs a multi-second Python-worker round trip PER BATCH
    # (measured ~5 s on local[32], r13).  All three sinks are independent
    # batch-keyed overwrites sharing the persisted `asg` -- overlap them.
    _parallel_sink_writes(
        lambda: out.write.mode("overwrite").parquet(
            f"{out_path}/batch_id={batch_id}"
        ),
        lambda: asg.write.mode("overwrite").parquet(
            f"{vec_path}/batch_id={batch_id}"
        ),
        lambda: spark.range(1).select(
            SF.lit(int(rng["lo"])).alias("min_id"),
            SF.lit(int(rng["hi"])).alias("max_id"),
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{meta_path}/batch_id={batch_id}"
        ),
    )
    asg.unpersist()


def run_incremental_semdedup(
    stream: DataFrame,
    store_path: str,
    out_path: str,
    *,
    checkpoint: str,
    centroids: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.2,
    centroid_path: str = "auto",
):
    """Streaming SemDeDup: maintain the semantic-duplicate election of
    operators.similarity.semantic_dedup across micro-batches against a
    PRE-TRAINED coarse quantizer (``centroids`` -- the deployment shape:
    k-means is trained offline on a sample, ingest assigns against the
    frozen codebook, like run_incremental_neardup freezes its hash
    family).  Per batch: quantize + nearest-centroid assignment (map-side,
    no shuffle; broadcast data path past LITERAL_CENTROID_MAX), candidate
    pairs from the cluster blocking key against BOTH the historical
    vector store (pruned to the batch's touched clusters) and the batch
    itself, exact integer cosine against ``threshold``, keep-first by
    lowest id.  Emits one row per batch vector (id, cluster_id, is_dup);
    the union over batches equals the one-shot batch operator row for row
    (driver-gated vs the same DuckDB oracle).

    Store layout (batch-keyed for idempotent retries, same discipline as
    run_incremental_neardup; compact with compact_incremental_store):
      {store_path}/vectors/batch_id=N -- (id, __list, qvec, qnorm), ALL
                                         seen vectors (non-chained
                                         election needs duplicate
                                         witnesses too)
      {store_path}/meta/batch_id=N    -- one (min_id, max_id) row: the
                                         id high-water mark guard
    Output: {out_path}/batch_id=N     -- (id, cluster_id, is_dup)

    Scale shape: assignment is O(k) per vector map-side (O(2*sqrt(k))
    via assign_two_level upstream if needed); per-batch store IO is
    bounded by touched clusters; at k ~ sqrt(N) expected cluster size is
    sqrt(N), so cross-batch candidate pairs stay batch-driven -- never
    all-pairs, never a full-store shuffle."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        apply_incremental_semdedup_batch(
            batch_df,
            batch_id,
            store_path,
            out_path,
            centroids=centroids,
            id_col=id_col,
            vec_col=vec_col,
            threshold=threshold,
            centroid_path=centroid_path,
        )

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def compact_incremental_store(spark, store_path: str) -> int:
    """Maintenance compaction for the batch-keyed dedup stores
    (run_incremental_dedup's fingerprint store, run_incremental_neardup's
    buckets/hashes tables): fold every ``batch_id=N`` partition into one
    baseline partition ``batch_id=-1`` and drop the per-batch partitions.
    Streaming batch ids are non-negative and monotonic, so the baseline
    never collides with a live batch, and the own-batch exclusion filter
    (``batch_id != current``) always keeps the baseline visible.

    Run it BETWEEN streaming runs (AvailableNow lifecycles), not under a
    live writer.  Crash safety relies on consumer semantics, not
    atomicity: every consumer tolerates duplicate rows (anti-join,
    dropDuplicates on candidates), so a crash between the baseline write
    and the partition deletes only costs duplicates until the next
    compaction.  Returns the number of batch partitions folded."""
    from pyspark.sql import functions as SF

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI.create(store_path), conf)
    root = jvm.org.apache.hadoop.fs.Path(store_path)
    parts = [
        s.getPath().getName()
        for s in fs.listStatus(root)
        if s.isDirectory() and s.getPath().getName().startswith("batch_id=")
    ]
    to_fold = [p for p in parts if p != "batch_id=-1"]
    if not to_fold:
        return 0
    df = spark.read.parquet(store_path).drop("batch_id")
    # distinct: the baseline is the store's value set, not its write log
    df.distinct().write.mode("overwrite").parquet(f"{store_path}/__baseline_tmp")
    merged = spark.read.parquet(f"{store_path}/__baseline_tmp")
    merged.write.mode("overwrite").parquet(f"{store_path}/batch_id=-1")
    for p in parts:
        if p != "batch_id=-1":
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{store_path}/{p}"), True)
    fs.delete(jvm.org.apache.hadoop.fs.Path(f"{store_path}/__baseline_tmp"), True)
    return len(to_fold)


def compact_incremental_count_store(
    spark, store_path: str, key_cols: list[str], count_col: str = "cnt"
) -> int:
    """Compaction twin of :func:`compact_incremental_store` for COUNT
    stores (run_incremental_spans' (wh, cnt) table): fold every
    ``batch_id=N`` partition into one ``batch_id=-1`` baseline by SUMMING
    ``count_col`` per ``key_cols``.  A distinct-fold would collapse equal
    per-batch counts into one row and under-gate min_count -- count
    stores need the additive fold, value stores need the set fold; the
    two functions are deliberately separate so neither can be misapplied
    silently (schema mismatch fails loudly).

    Same lifecycle discipline as the set-fold twin: run BETWEEN streaming
    runs, never under a live writer.  Crash window caveat is SHARPER here
    than for set stores: a crash after the baseline write but before the
    partition deletes leaves counts doubled (set-store consumers tolerate
    duplicate rows; count sums do not), which can only over-flag new
    arrivals until the next compaction completes -- it never un-flags.
    Returns the number of batch partitions folded."""
    from pyspark.sql import functions as SF

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI.create(store_path), conf)
    root = jvm.org.apache.hadoop.fs.Path(store_path)
    parts = [
        s.getPath().getName()
        for s in fs.listStatus(root)
        if s.isDirectory() and s.getPath().getName().startswith("batch_id=")
    ]
    to_fold = [p for p in parts if p != "batch_id=-1"]
    if not to_fold:
        return 0
    df = spark.read.parquet(store_path).drop("batch_id")
    folded = df.groupBy(*key_cols).agg(
        SF.sum(count_col).cast("long").alias(count_col)
    )
    folded.write.mode("overwrite").parquet(f"{store_path}/__baseline_tmp")
    merged = spark.read.parquet(f"{store_path}/__baseline_tmp")
    merged.write.mode("overwrite").parquet(f"{store_path}/batch_id=-1")
    for p in parts:
        if p != "batch_id=-1":
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{store_path}/{p}"), True)
    fs.delete(jvm.org.apache.hadoop.fs.Path(f"{store_path}/__baseline_tmp"), True)
    return len(to_fold)


def run_incremental_hamming(
    stream: DataFrame,
    store_path: str,
    out_path: str,
    *,
    checkpoint: str,
    id_col: str = "doc_id",
    code_col: str = "simhash60",
    bits: int = 60,
    max_dist: int = 3,
):
    """Streaming Hamming near-dup RETRIEVAL over a stream of bit
    fingerprints (SimHash, perceptual image hashes): the pigeonhole-banded
    analogue of run_incremental_neardup.  Per micro-batch, each new code's
    ``max_dist + 1`` disjoint bands are checked against BOTH the accreted
    band index and the batch itself; collisions are verified with an exact
    popcount and emitted normalized (id_a < id_b), so the accumulated
    output across batches is EXACTLY the unordered pair set of the batch
    ``hamming_join`` -- and because md5-SimHash codes are engine-
    replayable, the streaming result carries a FULL DuckDB hash oracle
    (unlike the xxhash minhash twin's rows-only check).

    Store layout (batch-keyed for idempotent retries, the
    run_incremental_dedup discipline): {store_path}/bands/batch_id=N holds
    (id, code, bi, bv); a retry excludes its own failed partition, and the
    per-batch output overwrite makes replays emit identical pairs.  Scale
    shape: the per-batch cost is band-collision-driven, not store-size-
    driven -- the equi-join on (bi, bv) touches only colliding buckets of
    a store a real deployment compacts (compact_incremental_store).

    Re-delivery safety: an id delivered again in a LATER batch (at-least-
    once sources) never self-pairs (the store-side branch filters
    id_a != id_b) and never re-emits pairs already reported -- each batch
    anti-joins its candidate pairs against the accumulated output
    (excluding its own partition, so a retried batch still re-emits its
    identical rows).  The anti-join's right side is pre-pruned to prior
    pairs that TOUCH a batch id (every candidate pair has at least one
    batch-side endpoint), so the suppression cost is batch-driven, not
    output-lifetime-driven.  Ids are assumed to identify a STABLE code;
    an id re-delivered with a different code keeps its first-reported
    pairs.

    Store compatibility: the (bi, bv) values are produced by
    ``hamming_bands``, whose band layout changed in r8 to balanced widths
    when ``bits % (max_dist + 1) != 0``.  A band store persisted by
    pre-r8 code will NOT match post-r8 bands (missed cross-batch pairs,
    silently); rebuild or recompute the store after upgrading --
    re-running the stream from its source, or regenerating
    {store_path}/bands from the stored (id, code) columns via
    hamming_bands, restores consistency."""
    from pyspark.sql import functions as SF

    from odp_dynamic_data_pipeline_spark.operators.dedup import hamming_bands

    def _path_exists(spark, path: str) -> bool:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI.create(path), conf)
        return fs.exists(jvm.org.apache.hadoop.fs.Path(path))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # pin the band layout (the docstring's pre-r8 compatibility note,
        # made structural): bits/max_dist determine band widths, and a
        # mismatched resume silently misses cross-batch pairs
        from odp_dynamic_data_pipeline_spark.streaming.kvstore import (
            ensure_store_config,
        )

        ensure_store_config(
            spark, store_path,
            {"family": "hamming", "code_col": code_col, "bits": bits,
             "max_dist": max_dist, "bands_layout": "balanced-r8"},
        )
        bands = hamming_bands(
            batch_df.select(id_col, code_col),
            id_col=id_col,
            code_col=code_col,
            bits=bits,
            max_dist=max_dist,
        ).persist()
        new_side = bands.select(
            "bi", "bv", SF.col(id_col).alias("id_b"), SF.col(code_col).alias("__cb")
        )
        cands = []
        if _path_exists(spark, f"{store_path}/bands"):
            old_b = (
                spark.read.parquet(f"{store_path}/bands")
                .where(SF.col("batch_id") != SF.lit(batch_id))
                .select(
                    "bi", "bv", SF.col(id_col).alias("id_a"), SF.col(code_col).alias("__ca")
                )
            )
            cands.append(
                new_side.join(old_b, ["bi", "bv"])
                # an id re-delivered in a later batch is in BOTH sides of
                # this join -- never pair it with itself
                .where(SF.col("id_a") != SF.col("id_b"))
                .select("id_a", "__ca", "id_b", "__cb")
            )
        batch_left = bands.select(
            "bi", "bv", SF.col(id_col).alias("id_a"), SF.col(code_col).alias("__ca")
        )
        cands.append(
            batch_left.join(new_side, ["bi", "bv"])
            .where(SF.col("id_a") < SF.col("id_b"))
            .select("id_a", "__ca", "id_b", "__cb")
        )
        cand = cands[0]
        for c in cands[1:]:
            cand = cand.unionByName(c)
        pairs = (
            cand.withColumn("dist", SF.expr("bit_count(__ca ^ __cb)"))
            .where(SF.col("dist") <= max_dist)
            .select(
                SF.least("id_a", "id_b").alias("id_a"),
                SF.greatest("id_a", "id_b").alias("id_b"),
                SF.col("dist").cast("int").alias("dist"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        if _path_exists(spark, out_path):
            # re-delivered ids regenerate pairs already reported by earlier
            # batches; suppress them so the accumulated output stays the
            # unordered pair SET (own partition excluded -- a retried batch
            # must still re-emit its identical rows).  Every candidate pair
            # has >= 1 batch-side endpoint, so prior pairs touching NO
            # batch id can never match -- semi-join-prune them first to
            # keep the suppression cost batch-driven, not proportional to
            # the stream's lifetime output (duplicate rows from the
            # id_a/id_b union are harmless on an anti-join's right side)
            batch_ids = SF.broadcast(
                bands.select(SF.col(id_col)).distinct()
            )
            prior = (
                spark.read.parquet(out_path)
                .where(SF.col("batch_id") != SF.lit(batch_id))
                .select("id_a", "id_b")
            )
            touching = prior.join(
                batch_ids.withColumnRenamed(id_col, "id_a"), "id_a", "left_semi"
            ).unionByName(
                prior.join(
                    batch_ids.withColumnRenamed(id_col, "id_b"), "id_b", "left_semi"
                )
            )
            pairs = pairs.join(touching, ["id_a", "id_b"], "left_anti")
        _parallel_sink_writes(
            lambda: pairs.write.mode("overwrite").parquet(
                f"{out_path}/batch_id={batch_id}"
            ),
            lambda: bands.write.mode("overwrite").parquet(
                f"{store_path}/bands/batch_id={batch_id}"
            ),
        )
        bands.unpersist()

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_incremental_spans(
    stream: DataFrame,
    store_path: str,
    out_path: str,
    *,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
    min_count: int = 2,
):
    """Streaming ExactSubstr at INGEST time: per micro-batch, each arriving
    document's stride-1 token windows (operators.text.token_windows -- the
    SAME xxhash64 bigint anchors the batch occurrence_duplicate_spans
    hashes, pinned in the store config as anchor=xxhash64-v1) are counted against
    the accreted window store PLUS the batch itself, and the batch's
    documents get their maximal duplicated spans emitted
    (operators.text.merge_window_spans).

    Semantics are deliberately ONE-SIDED -- the ingest-gate contract: a
    new document is span-checked against everything already admitted, but
    history is never retro-flagged when a LATER arrival creates the
    min_count-th occurrence of one of its windows (re-scrubbing admitted
    data is a batch maintenance job: run duplicate_spans over the store).
    Because the gate is "count over batches <= mine", a stream fed in a
    DETERMINISTIC batch order is exactly replayable by a batch engine --
    the incremental_spans_stream oracle replays the two-drop split in SQL.

    Store layout (the run_incremental_dedup discipline, AGGREGATED):
    {store_path}/whc/batch_id=N holds the batch's (wh, cnt) window-hash
    COUNTS -- never positions.  The one-sided gate makes positions from
    history unnecessary: a window count is all the gate ever asks of
    admitted data, so the store is distinct-wh-sized (10-100x smaller
    than raw (id, pos, wh) rows for repetitive corpora) and compacts by
    SUMMING counts per hash (compact_incremental_count_store -- NOT the
    distinct-fold compact_incremental_store, which would collapse equal
    counts and under-gate).  A retry excludes its own failed partition
    and per-batch output overwrite makes replays idempotent.

    Per-batch cost is batch-driven, provably: the store side is pruned
    with a broadcast semi-join on the BATCH's distinct window hashes
    BEFORE any aggregation, so the only store-proportional work is the
    columnar scan of the wh/cnt columns (sequential IO, no shuffle); the
    shuffle and the count fold carry colliding hashes only.  The
    broadcast is bounded by the micro-batch's distinct windows -- size
    triggers (maxFilesPerTrigger / maxBytesPerTrigger) bound it the same
    way they bound the batch itself.  Re-scrubbing admitted data remains
    a batch maintenance job over the corpus (duplicate_spans), not the
    store.

    Legacy stores: a pre-r9 {store_path}/wins raw-window store is
    auto-migrated (counted per batch partition into whc, then deleted)
    before the first micro-batch."""
    from pyspark.sql import functions as SF

    from odp_dynamic_data_pipeline_spark.operators.text import (
        merge_window_spans,
        token_windows,
    )

    if min_tokens < 2:
        raise ValueError(f"min_tokens must be >= 2, got {min_tokens}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")

    def _path_exists(spark, path: str) -> bool:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI.create(path), conf)
        return fs.exists(jvm.org.apache.hadoop.fs.Path(path))

    def _migrate_legacy_wins(spark) -> None:
        # pre-r9 layout: {store_path}/wins/batch_id=N raw (id, pos, wh)
        # rows -- fold each batch partition into (wh, cnt) and drop it
        if not _path_exists(spark, f"{store_path}/wins") or _path_exists(
            spark, f"{store_path}/whc"
        ):
            return
        wins = spark.read.parquet(f"{store_path}/wins")
        (
            wins.groupBy("batch_id", "wh")
            .agg(SF.count(SF.lit(1)).cast("long").alias("cnt"))
            .write.partitionBy("batch_id")
            .mode("overwrite")
            .parquet(f"{store_path}/whc")
        )
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI.create(store_path), conf
        )
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{store_path}/wins"), True)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # pin the window-hash layout: a resume with different min_tokens
        # (or text source) puts old and new batches in incomparable
        # window-hash spaces -- cross-batch span counts silently wrong.
        # "anchor" pins the HASH FAMILY of the wh keys (advisor r13): the
        # r13 md5->xxhash64 anchor change means a durable whc store written
        # by pre-r13 code holds md5 hex strings that would join as null
        # bigints against today's keys -- the ingest gate would silently
        # under-count cross-batch occurrences.  With the key pinned, such a
        # resume fails the config gate loudly instead.
        from odp_dynamic_data_pipeline_spark.streaming.kvstore import (
            ensure_store_config,
        )

        ensure_store_config(
            spark, store_path,
            {"family": "spans", "text_col": text_col,
             "min_tokens": min_tokens, "min_count": min_count,
             "anchor": "xxhash64-v1"},
        )
        win = token_windows(
            batch_df.select(id_col, text_col), text_col,
            min_tokens=min_tokens, id_col=id_col,
        ).persist()
        batch_counts = win.groupBy("wh").agg(
            SF.count(SF.lit(1)).cast("long").alias("cnt")
        ).persist()
        if _path_exists(spark, f"{store_path}/whc"):
            # prune BEFORE counting: only store hashes that collide with
            # this batch can affect the gate, and the batch's distinct-wh
            # set is broadcast-bounded -- per-batch shuffle cost is
            # collision-driven, not store-size-driven
            store_counts = (
                spark.read.parquet(f"{store_path}/whc")
                .where(SF.col("batch_id") != SF.lit(batch_id))
                .join(SF.broadcast(batch_counts.select("wh")), "wh", "left_semi")
                .groupBy("wh")
                .agg(SF.sum("cnt").alias("__cs"))
            )
            totals = batch_counts.join(store_counts, "wh", "left").select(
                "wh",
                (SF.col("cnt") + SF.coalesce("__cs", SF.lit(0))).alias("__c"),
            )
        else:
            totals = batch_counts.select("wh", SF.col("cnt").alias("__c"))
        dup = (
            win.join(totals.where(SF.col("__c") >= min_count).select("wh"), "wh")
            .select(id_col, "pos")
        )
        spans = merge_window_spans(dup, min_tokens=min_tokens, id_col=id_col)
        _parallel_sink_writes(
            lambda: spans.write.mode("overwrite").parquet(
                f"{out_path}/batch_id={batch_id}"
            ),
            lambda: batch_counts.write.mode("overwrite").parquet(
                f"{store_path}/whc/batch_id={batch_id}"
            ),
        )
        batch_counts.unpersist()
        win.unpersist()

    _migrate_legacy_wins(stream.sparkSession)
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_incremental_ivf(
    stream: DataFrame,
    store_path: str,
    out_path: str,
    *,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nlist: int = 8,
    nprobe: int = 2,
):
    """Streaming ANN retrieval at INGEST time -- the similarity member of
    the incremental-store suite (dedup / neardup / hamming / kmv / spans /
    agg): per micro-batch, each arriving vector is IVF-assigned (its
    ``nprobe`` nearest coarse lists, operators.similarity.ivf_assign's
    exact integer distances) and exact-cosine-scored against the accreted
    vector store restricted to those lists PLUS the batch itself; its
    top-``k`` neighbors are emitted, and the batch's vectors join the
    store under their single nearest list.

    Semantics are ONE-SIDED and EVENT-SCOPED: an arrival's report sees
    everything admitted up to and including its own batch, history is
    never retro-reported when a closer neighbor arrives later, and a
    re-delivered id gets a fresh report against the larger store (the
    output is an arrival-time report LOG -- contrast
    run_incremental_hamming, which maintains a deduplicated pair SET).
    Deterministic batch order makes the accumulated log exactly
    SQL-replayable (incremental_ivf_stream oracle: candidates gated on
    batch <= mine, same integer quantization / tie-breaks).

    Centroids are derived ONCE from the first batch (its first ``nlist``
    vectors by id -- the ivf_topk seeding) and persisted at
    {store_path}/centroids; every later batch loads them, so list
    assignments stay consistent for the stream's lifetime.  Pre-seed the
    file with trained k-means output (kmeans_quantizer) to deploy a real
    quantizer -- the protocol only needs centroids to be FIXED, not how
    they were produced.

    Scale shape: the batch's probe rows are broadcast (batch-bounded)
    into an equi-join on list id, so the store is scanned map-side --
    never shuffled -- and only vectors in probed lists are scored;
    per-batch cost is probe-driven, not store-size-driven (the
    store_growth discipline).  Store layout is batch-keyed
    ({store_path}/vecs/batch_id=N holding (id, ivf_list, qvec, qnorm)):
    a retry excludes its own failed partition and per-batch output
    overwrite makes replays idempotent; compact with
    compact_incremental_store."""
    from pyspark.sql import Window
    from pyspark.sql import functions as SF

    from odp_dynamic_data_pipeline_spark.operators.similarity import (
        DOT,
        ivf_assign,
        quantized,
    )

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not (1 <= nprobe <= nlist):
        raise ValueError(f"need 1 <= nprobe <= nlist, got {nprobe}/{nlist}")

    def _path_exists(spark, path: str) -> bool:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI.create(path), conf)
        return fs.exists(jvm.org.apache.hadoop.fs.Path(path))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # pin the index layout: the centroid table is trained by the first
        # batch, so a mismatched nlist/vec_col on resume would assign new
        # vectors against a differently-shaped coarse quantizer
        from odp_dynamic_data_pipeline_spark.streaming.kvstore import (
            ensure_store_config,
        )

        ensure_store_config(
            spark, store_path,
            {"family": "ivf", "vec_col": vec_col, "nlist": nlist},
        )
        q = (
            quantized(batch_df.select(id_col, vec_col), vec_col)
            .select(id_col, "qvec", "qnorm")
            .persist()
        )
        cpath = f"{store_path}/centroids"
        if _path_exists(spark, cpath):
            cents = [
                r.qvec for r in spark.read.parquet(cpath).orderBy("j").collect()
            ]
        else:
            cents = [
                r.qvec
                for r in q.orderBy(id_col).limit(nlist).select("qvec").collect()
            ]
            from odp_dynamic_data_pipeline_spark.functions.localrel import (
                local_relation,
            )

            local_relation(
                spark,
                [(j, list(c)) for j, c in enumerate(cents)],
                "j int, qvec array<bigint>",
            ).write.mode("overwrite").parquet(cpath)
        cand = ivf_assign(q, cents, nprobe=1).select(
            SF.col(id_col).alias("cand_id"), "qvec", "qnorm", "ivf_list"
        )
        qry = ivf_assign(q, cents, nprobe=nprobe).select(
            SF.col(id_col).alias("qid"),
            SF.col("qvec").alias("q_qvec"),
            SF.col("qnorm").alias("q_qnorm"),
            SF.explode("ivf_list").alias("ivf_list"),
        )
        sides = cand
        if _path_exists(spark, f"{store_path}/vecs"):
            old = (
                spark.read.parquet(f"{store_path}/vecs")
                .where(SF.col("batch_id") != SF.lit(batch_id))
                .select(
                    SF.col(id_col).alias("cand_id"), "qvec", "qnorm", "ivf_list"
                )
            )
            sides = sides.unionByName(old)
        pairs = sides.join(SF.broadcast(qry), "ivf_list").where(
            SF.col("cand_id") != SF.col("qid")
        )
        dot = SF.expr(DOT.format(a="q_qvec", b="qvec"))
        cosine = dot.cast("double") / SF.sqrt(
            SF.col("q_qnorm").cast("double") * SF.col("qnorm").cast("double")
        )
        scored = pairs.select(
            "qid", "cand_id", cosine.alias("cosine")
        ).dropDuplicates(["qid", "cand_id"])
        w = Window.partitionBy("qid").orderBy(SF.col("cosine").desc(), "cand_id")
        topk = (
            scored.withColumn("rank", SF.row_number().over(w))
            .where(SF.col("rank") <= k)
            .select("qid", "cand_id", "rank", "cosine")
        )
        _parallel_sink_writes(
            lambda: topk.write.mode("overwrite").parquet(
                f"{out_path}/batch_id={batch_id}"
            ),
            lambda: cand.select(
                SF.col("cand_id").alias(id_col), "ivf_list", "qvec", "qnorm"
            ).write.mode("overwrite").parquet(
                f"{store_path}/vecs/batch_id={batch_id}"
            ),
        )
        q.unpersist()

    q_ = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q_.awaitTermination()
    return q_


def run_incremental_kmv(
    stream: DataFrame,
    store_path: str,
    out_path: str,
    *,
    checkpoint: str,
    col: str,
    k: int = 64,
    group_cols: list[str] | None = None,
):
    """Streaming distinct-count tracking via the KMV sketch
    (operators.text.kmv_sketch): per micro-batch, sketch the batch, fold
    it into the accreted batch-keyed min-hash store, and emit the MERGED
    per-group sketch + estimate -- an evolving distinct-cardinality time
    series over an unbounded stream with O(k) state per group instead of
    O(distinct values).

    KMV is ORDER-INDEPENDENT (the k smallest hashes of a union do not
    care how the union arrived), so the final batch's emitted sketch
    EQUALS the one-shot batch kmv_sketch over all data -- which is why
    the streaming twin (incremental_kmv_stream) carries a full hash
    oracle on the estimate itself, not a tolerance boolean.

    Per-batch cost is FLAT in stream lifetime: each batch folds its own
    sketch against the PREVIOUS batch's emitted sketch (k rows per group
    -- itself the merge of everything before it, by KMV mergeability:
    the k smallest of top-k(A) union B is the k smallest of A union B,
    property-tested), never against the accreted store.  O(batch +
    k * groups) work per batch regardless of how many batches came
    before.  Idempotent under retries: batch N deterministically reads
    the newest emission with id < N, so a replay rebuilds the identical
    partition.

    Store layout (the run_incremental_dedup discipline):
    {store_path}/mins/batch_id=N still records the batch's per-group
    k-smallest distinct hashes -- a rebuildable audit trail (lets an
    operator re-derive any prefix's sketch, or recover if out_path is
    lost) that the hot path never re-reads; growth is bounded by k rows
    per group per batch and compacts with compact_incremental_store."""
    from pyspark.sql import functions as SF

    from odp_dynamic_data_pipeline_spark.operators.text import kmv_merge, kmv_sketch

    groups = group_cols or []

    def _latest_prior_out(spark, current_id: int):
        """Newest emitted partition with batch_id < current (None if no
        prior emission): the accreted state, k rows per group."""
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI.create(out_path), conf
        )
        root = jvm.org.apache.hadoop.fs.Path(out_path)
        if not fs.exists(root):
            return None
        ids = []
        for s in fs.listStatus(root):
            name = s.getPath().getName()
            if s.isDirectory() and name.startswith("batch_id="):
                try:
                    bid = int(name.split("=", 1)[1])
                except ValueError:
                    continue
                if bid < current_id:
                    ids.append(bid)
        if not ids:
            return None
        return spark.read.parquet(f"{out_path}/batch_id={max(ids)}")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # pin the sketch shape: merging sketches built with a different k
        # or source column yields silently wrong distinct estimates
        from odp_dynamic_data_pipeline_spark.streaming.kvstore import (
            ensure_store_config,
        )

        ensure_store_config(
            spark, store_path,
            {"family": "kmv", "col": col, "k": k, "group_cols": groups},
        )
        batch_sk = kmv_sketch(batch_df, col, k=k, group_cols=groups).persist()
        rows = batch_sk.select(*groups, SF.explode("sketch").alias("h"))
        prev = _latest_prior_out(spark, batch_id)
        if prev is not None:
            merged = kmv_merge(
                prev.select(*groups, "sketch").unionByName(
                    batch_sk.select(*groups, "sketch")
                ),
                k=k,
                group_cols=groups,
            )
        else:
            merged = batch_sk.select(*groups, "sketch", "n_sketch", "est_distinct")
        # audit-trail mins + merged emission share the persisted batch
        # sketch and write to disjoint batch-keyed paths -- overlap them
        _parallel_sink_writes(
            lambda: rows.write.mode("overwrite").parquet(
                f"{store_path}/mins/batch_id={batch_id}"
            ),
            lambda: merged.write.mode("overwrite").parquet(
                f"{out_path}/batch_id={batch_id}"
            ),
        )
        batch_sk.unpersist()

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _sessions_manifest(spark, store_path: str):
    """Parse a run_incremental_sessions / run_incremental_upsert MANIFEST:
    (current, parent, current bucket map, parent bucket map, current
    max_ts_us, parent max_ts_us).  Returns None when the store has no
    manifest yet.  Back-compat wrapper over kvstore.ManifestStore."""
    from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore

    m = ManifestStore(spark, store_path, n_extras=2).read_manifest()
    if m is None:
        return None
    return (m.current, m.parent, m.cur_map, m.par_map, m.extras[0], m.extras[1])


def _sessions_write_manifest(
    spark, store_path: str, version: str, parent: str,
    cur_map: dict, par_map, cur_max, par_max,
) -> None:
    """Atomic overwrite-rename manifest flip (kvstore.ManifestStore
    discipline), with two extra JSON lines carrying the store's event-time
    high-water mark (current / parent) for the chronology guard."""
    from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore

    ManifestStore(spark, store_path, n_extras=2).write_manifest(
        version, parent, cur_map, par_map, [cur_max, par_max]
    )


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

    b = batch_df.select(group_col, ts_col)
    bexpr0 = SF.pmod(SF.xxhash64(group_col), SF.lit(n_buckets)).cast("int")
    part = b.withColumn("bucket", bexpr0).persist()
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

    from odp_dynamic_data_pipeline_spark.streaming.kvstore import (
        ManifestStore,
        ensure_store_config,
    )

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

    bexpr = bexpr0
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
        # grouped-pandas machinery costs ~4 ms PER GROUP (the
        # pair_page_views_exact buckets adjudication, PLANS.md); keying
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

    m = _sessions_manifest(spark, store_path)
    if m is None:
        raise ValueError(f"no session store at {store_path}")
    paths = [f"{store_path}/{v}/bucket={k}" for k, v in sorted(m[2].items())]
    open_s = spark.read.parquet(*paths).select(
        "*",
    )
    open_s = open_s.select(
        open_s.columns[0], "session_n", "n_events", "start_us", SF.col("last_us").alias("end_us")
    )
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI.create(out_path), conf)
    if fs.exists(jvm.org.apache.hadoop.fs.Path(out_path)):
        closed = spark.read.parquet(f"{out_path}/batch=*")
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
        ensure_store_config,
    )

    bexpr = SF.pmod(SF.xxhash64(*key_cols), SF.lit(n_buckets)).cast("int")
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
    streaming lifecycles like compact_incremental_store.  Returns the
    number of tombstones expired."""
    from pyspark.sql import functions as SF

    from odp_dynamic_data_pipeline_spark.streaming.kvstore import (
        ManifestStore,
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
    bexpr = SF.pmod(SF.xxhash64(*key_cols), SF.lit(n_buckets)).cast("int")
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
    new_map = dict(m.cur_map or {})
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
    bexpr = SF.pmod(SF.xxhash64("node"), SF.lit(n_buckets)).cast("int")
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
    bexpr = SF.pmod(SF.xxhash64("node"), SF.lit(n_buckets)).cast("int")
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


def vacuum_incremental_kv(spark, store_path: str) -> list[str]:
    """Retention for the bucketed delta-merge stores written by
    run_incremental_sessions / run_incremental_upsert (the 6-line
    manifest family).  Delegates to kvstore.ManifestStore.vacuum -- see
    its docstring for the retention set (current + parent pointers +
    every version still owning a bucket in either map) and the
    never-strand-a-reader argument.  Returns the deleted version names."""
    from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore

    return ManifestStore(spark, store_path, n_extras=2).vacuum()
