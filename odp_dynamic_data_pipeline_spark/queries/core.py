"""Reference-shaped + relational query surface (SURVEY.md section 2).

Each query maps a reference operator family onto the driver testdata
(FIXTURES.md section 2): events plays the user_exp stream (user_id=clientId,
event_type=eventType), the star schema plays the correlation joins, and
documents/embeddings host the LLM-data operators (queries.llm).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from odp_dynamic_data_pipeline_spark.operators.aggregate import conditional_counts
from odp_dynamic_data_pipeline_spark.operators.enrich import enrich
from odp_dynamic_data_pipeline_spark.operators.mappings import extract_mapping
from odp_dynamic_data_pipeline_spark.queries import register
from odp_dynamic_data_pipeline_spark.sources.catalog import load_table


def _cents(col: str) -> Column:
    """double -> exact integer cents (both engines round identically away
    from .5-free inputs; source doubles carry <=2 decimals)."""
    return F.expr(f"CAST(ROUND({col} * 100, 0) AS BIGINT)")


# ---------------------------------------------------------------------------
# W1/W2 + A1-A4: the flagship TLB-style session metrics
# (reference: src/batch_tlb.py:20-85)
# ---------------------------------------------------------------------------

TLB_ORACLE = """
WITH p AS (
  SELECT user_id, event_type, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
  FROM events
), w AS (
  SELECT user_id, event_type, ts,
         MAX(CASE WHEN event_type = 'view' THEN ts END) OVER win AS prev_start,
         MAX(CASE WHEN event_type = 'view' THEN pos END) OVER win AS prev_start_pos,
         MAX(CASE WHEN event_type = 'purchase' THEN pos END) OVER win AS prev_end_pos
  FROM p
  WINDOW win AS (PARTITION BY user_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), d AS (
  SELECT user_id, event_type,
         CASE WHEN event_type = 'purchase' AND prev_start_pos IS NOT NULL
                   AND (prev_end_pos IS NULL OR prev_start_pos > prev_end_pos)
              THEN epoch_us(ts) - epoch_us(prev_start) END AS dur_us
  FROM w
)
SELECT user_id,
       CAST(COALESCE(SUM(dur_us), 0) AS DOUBLE) / 1000000.0 AS page_view_time,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error_count,
       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup_count,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click_count
FROM d
GROUP BY user_id
"""


@register("tlb_session_metrics", TLB_ORACLE)
def tlb_session_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-view pairing (W2 register semantics: 'view' starts/overwrites,
    'purchase' consumes-once, unmatched ends ignored) + per-user conditional
    counts with zero defaults (A2/A4).

    Window identity: the register is live iff the latest prior start comes
    after the latest prior end in walk order ``(ts, event_id)``, compared by
    position so a start in the same second as the end before it still
    counts; see operators.sessionize."""
    ev = load_table(spark, sf_dir, "events")
    ordered = Window.partitionBy("user_id").orderBy("ts", "event_id")
    win = ordered.rowsBetween(Window.unboundedPreceding, -1)
    is_start = F.col("event_type") == "view"
    is_end = F.col("event_type") == "purchase"
    prev_start = F.max(F.when(is_start, F.col("ts"))).over(win)
    prev_start_pos = F.max(F.when(is_start, F.col("__pos"))).over(win)
    prev_end_pos = F.max(F.when(is_end, F.col("__pos"))).over(win)
    emit = (
        is_end
        & prev_start_pos.isNotNull()
        & (prev_end_pos.isNull() | (prev_start_pos > prev_end_pos))
    )
    dur_us = F.when(emit, F.unix_micros(F.col("ts")) - F.unix_micros(prev_start))
    return (
        ev.withColumn("__pos", F.row_number().over(ordered))
        .withColumn("dur_us", dur_us)
        .groupBy("user_id")
        .agg(
            (F.coalesce(F.sum("dur_us"), F.lit(0)).cast("double") / F.lit(1000000.0)).alias(
                "page_view_time"
            ),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("error_count"),
            F.count(F.when(F.col("event_type") == "signup", 1)).alias("signup_count"),
            F.count(F.when(F.col("event_type") == "click", 1)).alias("click_count"),
        )
    )


def _replay_stream(spark: SparkSession, df: DataFrame, tmp: str):
    """Materialize a batch DataFrame to parquet and re-read it as a file
    STREAM -- the local stand-in for the production file-arrival source, so
    streaming queries can be driver-checked against batch oracles."""
    src = f"{tmp}/in"
    df.write.mode("overwrite").parquet(src)
    return spark.readStream.schema(df.schema).parquet(src)


_STREAM_TMP_ROOT: str | None = None


def _stream_tmpdir(name: str) -> str:
    """Scratch dir for a streaming-twin query.  One session-scoped root,
    removed at interpreter exit; the per-query subdir is WIPED at the start
    of each invocation (a reused checkpoint would make AvailableNow skip
    already-seen files and silently drop rows), so repeated bench/parity
    runs hold one run's worth of disk instead of accumulating mkdtemp
    orphans.  Cleanup cannot happen at the END of a call: the returned
    DataFrame lazily reads the stream's parquet output."""
    global _STREAM_TMP_ROOT
    import atexit
    import os
    import shutil
    import tempfile

    if _STREAM_TMP_ROOT is None:
        _STREAM_TMP_ROOT = tempfile.mkdtemp(prefix="odp_stream_twins_")
        atexit.register(shutil.rmtree, _STREAM_TMP_ROOT, ignore_errors=True)
    d = os.path.join(_STREAM_TMP_ROOT, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


@contextmanager
def _stream_shuffle(spark: SparkSession, n: int = 8):
    """Cap shuffle (= state store) partitions while a local replay stream
    runs: every state-store partition pays provider init + delta-file I/O
    per micro-batch, which dominates these seconds-long AvailableNow
    catch-ups.  The partition count is baked into each checkpoint at stream
    start, and these queries use fresh single-run checkpoints, so capping
    is safe here; a production deployment sizes it to the cluster instead.
    Restores the session value afterwards (the batch plans around the
    stream keep the session's parallelism)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@register("tlb_session_metrics_stream", TLB_ORACLE)
def tlb_session_metrics_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of tlb_session_metrics, checked against the SAME
    oracle: events replayed through the file-stream source, page-view
    pairing done by pair_page_views_stream (register in the state store,
    Trigger.AvailableNow -- SURVEY section 2.7 W2), then the per-user
    conditional counts joined on.  A green row here is the driver-verified
    proof that stream == batch == oracle for the stateful operator.

    Durations cross the stream boundary as exact integer microseconds and
    are divided once after the batch sum, so the double result is
    bit-identical to the batch path."""
    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        pair_page_views_stream,
        run_available_now,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    tmp = _stream_tmpdir("tlb_stream")
    out, ckpt = f"{tmp}/pairs", f"{tmp}/ckpt"
    stream = _replay_stream(spark, ev, tmp)
    pairs = pair_page_views_stream(
        stream,
        group_col="user_id",
        ts_col="ts",
        type_col="event_type",
        start_type="view",
        end_type="purchase",
        order_cols=["ts", "event_id"],
        group_type="bigint",
        duration_unit="us",
    )
    with _stream_shuffle(spark):
        run_available_now(pairs, format="parquet", query_name="", path=out, checkpoint=ckpt)
    pair_durs = (
        spark.read.schema("user_id bigint, end_ts timestamp, dur_us long")
        .parquet(out)
        .groupBy("user_id")
        .agg(F.sum("dur_us").alias("dur_us"))
    )
    counts = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "error", 1)).alias("error_count"),
        F.count(F.when(F.col("event_type") == "signup", 1)).alias("signup_count"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("click_count"),
    )
    return counts.join(pair_durs, "user_id", "left").select(
        "user_id",
        (F.coalesce(F.col("dur_us"), F.lit(0)).cast("double") / F.lit(1000000.0)).alias(
            "page_view_time"
        ),
        "error_count",
        "signup_count",
        "click_count",
    )


@register(
    "hourly_event_counts_stream",
    """
SELECT date_trunc('hour', ts) AS hour_ts, event_type,
       COUNT(*) AS n_events
FROM events GROUP BY hour_ts, event_type
""",
)
def hourly_event_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of the hourly aggregation (SURVEY section 2.7
    windowed aggs): events replayed through the file-stream source, tumbling
    1-hour windows with a watermark, Trigger.AvailableNow in complete mode,
    checked against the batch GROUP BY date_trunc oracle.  Proves the
    window/watermark path end-to-end, not just unit-level."""

    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        run_available_now,
        windowed_event_counts,
    )

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    tmp = _stream_tmpdir("hourly_stream")
    stream = _replay_stream(spark, ev, tmp)
    counts = windowed_event_counts(
        stream, ts_col="ts", window="1 hour", watermark="2 hours", group_cols=["event_type"]
    )
    with _stream_shuffle(spark):
        run_available_now(
            counts,
            query_name="hourly_counts_stream_mem",
            checkpoint=f"{tmp}/ckpt",
            output_mode="complete",
        )
    return spark.table("hourly_counts_stream_mem").select(
        F.col("window.start").alias("hour_ts"), "event_type", "n_events"
    )


@register(
    "incremental_agg_stream",
    """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY event_type
""",
)
def incremental_agg_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL materialized aggregate == batch aggregate, driver-
    verified: events replayed as multiple micro-batches folded into
    run_incremental_agg's versioned bucketed store (manifest-flip
    exactly-once), the final store read checked against the one-shot
    batch GROUP BY oracle.  The key is event_type (5 values), so 8
    buckets suffice.  Sums travel in exact integer cents, so equality is
    bitwise."""

    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        read_incremental_agg,
        run_incremental_agg,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .select("ts", "event_type", _cents("value").alias("cents"))
        .repartition(4)
    )
    tmp = _stream_tmpdir("incagg_stream")
    src = f"{tmp}/in"
    ev.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    with _stream_shuffle(spark):
        run_incremental_agg(
            stream,
            f"{tmp}/store",
            checkpoint=f"{tmp}/ckpt",
            key_cols=["event_type"],
            sum_col="cents",
            n_buckets=8,
        )
    return read_incremental_agg(spark, f"{tmp}/store").select(
        "event_type", "n", F.col("sum_cents").cast("long").alias("sum_cents")
    )


@register(
    "incremental_agg_bucketed_stream",
    """
SELECT user_id, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events WHERE user_id IS NOT NULL GROUP BY user_id
""",
)
def incremental_agg_bucketed_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKETED delta-merge materialized aggregate == batch aggregate,
    driver-verified: per-USER totals (a large keyspace, where a
    whole-store rewrite per batch would be store-size-bound) folded
    across micro-batches with run_incremental_agg(n_buckets=64) -- each
    batch reads and rewrites ONLY the key-hash buckets it touches, and
    the manifest's bucket->version map assembles the final store across
    version directories.  The final read is checked against the one-shot
    batch GROUP BY oracle; integer cents make equality bitwise.
    incremental_agg_stream runs the same protocol over a 5-key
    keyspace."""

    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        read_incremental_agg,
        run_incremental_agg,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("ts", "user_id", _cents("value").alias("cents"))
        .repartition(4)
    )
    tmp = _stream_tmpdir("incaggbk_stream")
    src = f"{tmp}/in"
    ev.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    with _stream_shuffle(spark):
        run_incremental_agg(
            stream,
            f"{tmp}/store",
            checkpoint=f"{tmp}/ckpt",
            key_cols=["user_id"],
            sum_col="cents",
            n_buckets=64,
        )
    return read_incremental_agg(spark, f"{tmp}/store").select(
        "user_id", "n", F.col("sum_cents").cast("long").alias("sum_cents")
    )


@register(
    "stream_stream_join_pairs",
    """
SELECT l.event_id AS view_id, r.event_id AS purchase_id, l.user_id
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND l.event_type = 'view' AND r.event_type = 'purchase'
 AND r.ts BETWEEN l.ts - INTERVAL 30 MINUTE AND l.ts + INTERVAL 30 MINUTE
WHERE l.user_id % 3 = 0
""",
)
def stream_stream_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM time-bounded join, driver-verified against the batch
    range-join oracle: views and purchases replayed as two streams, joined
    on user within +/-30 minutes of event time (watermarks on both sides
    bound the join state -- SURVEY section 2.7), AvailableNow to parquet.
    The deterministic user thinning keeps the pair count proportional
    rather than quadratic in scale factor."""

    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        run_available_now,
        stream_stream_join,
    )

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") % 3 == 0)
    tmp = _stream_tmpdir("ssj_stream")
    views = _replay_stream(
        spark,
        ev.where(F.col("event_type") == "view").select("event_id", "user_id", "ts"),
        f"{tmp}/v",
    )
    purchases = _replay_stream(
        spark,
        ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts"),
        f"{tmp}/p",
    )
    joined = stream_stream_join(
        views,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        left_watermark="1 hour",
        right_watermark="1 hour",
        within="30 minutes",
    ).select(
        F.col("event_id").alias("view_id"),
        F.col("r_event_id").alias("purchase_id"),
        "user_id",
    )
    with _stream_shuffle(spark):
        run_available_now(
            joined, format="parquet", query_name="", path=f"{tmp}/out", checkpoint=f"{tmp}/ckpt"
        )
    return spark.read.schema("view_id bigint, purchase_id bigint, user_id bigint").parquet(
        f"{tmp}/out"
    )


@register(
    "sessionize_exact_pandas",
    """
WITH p AS (
  SELECT user_id, event_type, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
  FROM events
), w AS (
  SELECT user_id, event_type, ts,
         MAX(CASE WHEN event_type = 'view' THEN ts END) OVER win AS prev_start,
         MAX(CASE WHEN event_type = 'view' THEN pos END) OVER win AS prev_start_pos,
         MAX(CASE WHEN event_type = 'purchase' THEN pos END) OVER win AS prev_end_pos
  FROM p
  WINDOW win AS (PARTITION BY user_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id, epoch_us(ts) AS end_us, epoch_us(ts) - epoch_us(prev_start) AS dur_us
FROM w
WHERE event_type = 'purchase' AND prev_start_pos IS NOT NULL
  AND (prev_end_pos IS NULL OR prev_start_pos > prev_end_pos)
""",
)
def sessionize_exact_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandas register-walk sessionizer (the reference's literal
    13-line loop, operators.sessionize.pair_page_views_exact) behind the
    oracle gate: the Arrow-batched Python path must produce exactly the
    pairs the window-algebra identity predicts."""
    from odp_dynamic_data_pipeline_spark.operators.sessionize import pair_page_views_exact

    ev = load_table(spark, sf_dir, "events")
    pairs = pair_page_views_exact(
        ev.select(F.col("user_id").cast("string").alias("user_key"), "ts", "event_type", "event_id"),
        group_col="user_key",
        ts_col="ts",
        type_col="event_type",
        start_type="view",
        end_type="purchase",
        # same-second events walk in the oracle's (ts, event_id) order
        tiebreak_col="event_id",
        # high-cardinality key: bucket the Arrow stage (grouped-pandas
        # machinery costs ~4 ms per group otherwise)
        buckets=64,
    )
    return pairs.select(
        F.col("user_key").cast("long").alias("user_id"),
        F.unix_micros("end_ts").alias("end_us"),
        # duration seconds -> exact integer micros: the true value is an
        # integer count of micros, so rounding undoes the double's last-ulp
        # error; a bare cast would truncate one low
        F.round(F.col("page_view_duration") * 1_000_000, 0).cast("long").alias("dur_us"),
    )


@register(
    "conditional_counts_by_user",
    """
SELECT user_id,
       COUNT(*) AS n_events,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events GROUP BY user_id
""",
)
def conditional_counts_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2/A4: grouped conditional counters (reference:
    src/batch_tlb.py:72-77), map-side-combinable single shuffle."""
    ev = load_table(spark, sf_dir, "events").withColumn("value_cents", _cents("value"))
    t = F.col("event_type")
    return conditional_counts(
        ev,
        "user_id",
        {
            "n_click": t == "click",
            "n_view": t == "view",
            "n_purchase": t == "purchase",
            "n_error": t == "error",
            "n_signup": t == "signup",
        },
        extra_aggs={"sum_value_cents": F.sum("value_cents")},
    ).select(
        "user_id",
        (F.col("n_click") + F.col("n_view") + F.col("n_purchase") + F.col("n_error") + F.col("n_signup")).alias("n_events"),
        "n_click",
        "n_view",
        "n_purchase",
        "n_error",
        "n_signup",
        "sum_value_cents",
    )


# ---------------------------------------------------------------------------
# P3/J1/J2: enrichment joins (reference: src/data_processor.py:100-112)
# ---------------------------------------------------------------------------


@register(
    "enrich_orders_customer",
    """
SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_mktsegment, n.n_name
FROM orders o
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
""",
)
def enrich_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two chained broadcast enrichment lookups (orders enriched with
    customer attributes, then nation name) -- the Spark-native replacement
    for the reference's Redis mapping hop."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    out = enrich(orders, customer, key_col="o_custkey", mapping_key="c_custkey")
    out = enrich(out, nation, key_col="c_nationkey", mapping_key="n_nationkey")
    return out.select("o_orderkey", "o_custkey", "c_name", "c_mktsegment", "n_name")


@register(
    "mapping_last_wins",
    """
SELECT user_id AS key,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
       event_type
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
)
def mapping_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: mapping extraction with last-writer-wins (reference:
    src/data_processor.py:114-155) -- key=user_id, value from the JSON props
    column (F3) plus event_type, 'last' = latest (ts, event_id)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "k", F.get_json_object("props", "$.k").cast("int")
    )
    return extract_mapping(
        ev, "user_id", ["k", "event_type"], order_col=F.struct("ts", "event_id")
    )


@register(
    "nested_spans_roundtrip",
    "SELECT l_orderkey, l_partkey AS partkey FROM lineitem",
)
def nested_spans_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: nested array-of-struct dot-path projection.  Builds a spans-like
    nested table (order -> array<struct<partkey,linenumber>>), projects
    through the array (``spans.l_partkey`` maps over elements, the
    reference's _get_nested_field semantics), explodes back out."""
    li = load_table(spark, sf_dir, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.collect_list(F.struct("l_partkey", "l_linenumber")).alias("spans")
    )
    return nested.select(
        "l_orderkey", F.explode(F.col("spans.l_partkey")).alias("partkey")
    )


@register(
    "correlate_star_3way",
    """
SELECT c.c_mktsegment,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
                * (100 - CAST(ROUND(l.l_discount * 100, 0) AS BIGINT))) AS DOUBLE)
         / 10000.0 AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY c.c_mktsegment
""",
)
def correlate_star_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/J6: 3-way inner correlation join, multiplicity-preserving (no
    dedup; reference probes per event, src/batch_tlb.py:65-77)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (_cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))).alias("rev_e4"),
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum(F.col("rev_e4").cast("decimal(38,0)")).cast("double") / F.lit(10000.0)).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Relational/analytical surface (free in Spark, SURVEY.md sections 2.4-2.5)
# ---------------------------------------------------------------------------


@register(
    "window_topk_customers",
    """
SELECT c_mktsegment, c_custkey, total_cents, rk FROM (
  SELECT c.c_mktsegment, c.c_custkey,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents,
         ROW_NUMBER() OVER (
           PARTITION BY c.c_mktsegment
           ORDER BY CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) DESC,
                    c.c_custkey
         ) AS rk
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment, c.c_custkey
) WHERE rk <= 3
""",
)
def window_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1-family: per-group top-k via ranking window over an aggregate."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", _cents("o_totalprice").alias("cents"))
    totals = (
        o.join(c, o["o_custkey"] == c["c_custkey"])  # customer scales: no forced broadcast
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.sum("cents").alias("total_cents"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("total_cents").desc(), F.col("c_custkey"))
    return (
        totals.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("c_mktsegment", "c_custkey", "total_cents", "rk")
    )


@register(
    "running_total_orders",
    """
SELECT o_orderkey, o_custkey,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS running_cents
FROM orders
""",
)
def running_total_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1-family: running aggregate window (ordered, frame-bounded)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(_cents("o_totalprice")).over(w).alias("running_cents"),
    )


@register(
    "scalar_functions",
    """
SELECT c_custkey,
       upper(c_name) AS name_upper,
       split_part(c_name, '#', -1) AS name_suffix,
       CAST(length(c_name) AS INTEGER) AS name_len,
       concat_ws('|', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_nation
FROM customer
""",
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function surface (F1/F2-family): case mapping, separator
    split (the Redis key-prefix strip, functions.strip_key_prefix),
    length, templated concatenation."""
    from odp_dynamic_data_pipeline_spark.functions import strip_key_prefix

    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        strip_key_prefix(F.col("c_name"), "#").alias("name_suffix"),
        F.length("c_name").alias("name_len"),
        F.concat_ws("|", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")).alias("seg_nation"),
    )


@register(
    "q12_priority_shipping",
    """
SELECT l.l_linestatus,
       COUNT(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count,
       COUNT(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l.l_linestatus
""",
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + case-conditional counts."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP '1997-01-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP '1998-01-01 00:00:00'"))
    ).select("l_orderkey", "l_linestatus")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(hi, 1)).alias("high_line_count"),
            F.count(F.when(~hi, 1)).alias("low_line_count"),
        )
    )


@register(
    "asof_last_view",
    """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
v AS (SELECT user_id, ts, CAST(ROUND(value * 100, 0) AS BIGINT) AS view_value_cents
      FROM events WHERE event_type = 'view')
SELECT p.event_id, p.user_id,
       epoch_us(p.ts) AS ts_us,
       epoch_us(v.ts) AS view_ts_us,
       v.view_value_cents
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
""",
)
def asof_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators.asof): each purchase matched to the user's most
    recent prior 'view' event -- union + ordered window, no range explosion.
    Oracle: DuckDB's native ASOF JOIN."""
    from odp_dynamic_data_pipeline_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", _cents("value").alias("view_value_cents")
    )
    out = asof_join(purchases, views, on="user_id", ts_col="ts", right_ts_alias="view_ts")
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("view_ts").alias("view_ts_us"),
        "view_value_cents",
    )


SESSION_GAP_ORACLE = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 7200000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
)
SELECT user_id,
       epoch_us(MIN(ts)) AS session_start_us,
       epoch_us(MAX(ts)) + 7200000000 AS session_end_us,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, sid
"""


@register("session_gap_windows_stream", SESSION_GAP_ORACLE)
def session_gap_windows_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization as a STREAM, checked against a lag/cumsum
    window-algebra oracle: events replayed through the file-stream source,
    native session_window (2-hour gap) merged in the state store across
    micro-batches, Trigger.AvailableNow in complete mode.  The sixth
    stream==batch==oracle family: native session-window state merging
    (distinct from the custom register pairing of
    tlb_session_metrics_stream)."""
    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        run_available_now,
        session_window_metrics,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    tmp = _stream_tmpdir("sessgap_stream")
    stream = _replay_stream(spark, ev, tmp)
    sess = session_window_metrics(
        stream, ts_col="ts", gap="2 hours", group_col="user_id", watermark="4 hours"
    )
    with _stream_shuffle(spark):
        run_available_now(
            sess,
            query_name="session_gap_stream_mem",
            checkpoint=f"{tmp}/ckpt",
            output_mode="complete",
        )
    return spark.table("session_gap_stream_mem").select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
        F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
        "n_events",
    )


@register(
    "pipeline_dynamic_enrich",
    """
SELECT o.o_orderkey, o.o_custkey, c.c_mktsegment
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
""",
)
def pipeline_dynamic_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dynamic-pipeline compiler end-to-end (plans.pipeline): a two-stage
    YAML-style spec -- stage_a derives a custkey->segment mapping, stage_b
    enriches orders through it -- compiled to one lazy broadcast-join plan."""
    from odp_dynamic_data_pipeline_spark.plans.pipeline import Pipeline

    spec = {
        "pipeline_name": "dynamic_enrich_demo",
        "stages": {
            # declared consumer-first on purpose: order comes from the
            # mapping dependency graph, not dict order
            "stage_b": {
                "input": {"format": "parquet", "path": "{sf_dir}/orders.parquet"},
                "mappings": {"read": [{"name": "cust_to_segment", "key_field": "o_custkey"}]},
            },
            "stage_a": {
                "input": {"format": "parquet", "path": "{sf_dir}/customer.parquet"},
                "mappings": {
                    "write": [{"name": "cust_to_segment", "key": "c_custkey", "value": "c_mktsegment"}]
                },
            },
        },
    }
    outputs, _ = Pipeline(spec).compile(spark, path_vars={"sf_dir": sf_dir})
    return outputs["stage_b"].select("o_orderkey", "o_custkey", "c_mktsegment")


@register(
    "pipeline_stream_stage_enrich",
    """
SELECT o.o_custkey AS custkey,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
""",
)
def pipeline_stream_stage_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The YAML compiler's STREAMING stage end-to-end (plans.pipeline,
    ``input.format: stream`` -- the reference runs its stage_1 as a stream
    consumer behind a file sensor, reference yaml:4 /
    src/pipeline_dag.py:26,65-88): orders arrive as JSON files in TWO
    separate drops, a stream stage drains each drop AvailableNow into its
    checkpointed staging table (the second compile ingests ONLY the new
    files -- the file-source checkpoint skips the first drop), the
    orderkey->custkey mapping is extracted from the staged table, and a
    batch stage enriches lineitem through it.  Every lineitem finds its
    order, so the inner-join oracle over the original tables reproduces
    the result exactly IFF neither drop was lost or double-ingested --
    the incremental-ingest contract is what the hash pins."""
    from pyspark.sql.types import LongType, StructField, StructType

    from odp_dynamic_data_pipeline_spark.plans.pipeline import Pipeline

    tmp = _stream_tmpdir("pipeline_stream_stage")
    src = f"{tmp}/src"
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    orders.where(F.col("o_orderkey") % 2 == 0).write.mode("overwrite").json(src)
    spec = {
        "pipeline_name": "stream_stage_demo",
        "stages": {
            "stage_s": {
                "input": {
                    "format": "stream",
                    "stream_format": "json",
                    # Spark's json writer emits JSONL part files, not
                    # multiline arrays
                    "multiline": False,
                    "path": f"{src}/part*.json",
                    "schema": StructType([
                        StructField("o_orderkey", LongType()),
                        StructField("o_custkey", LongType()),
                    ]),
                },
                "mappings": {
                    "write": [{"name": "order_to_cust", "key": "o_orderkey",
                               "value": "o_custkey"}]
                },
            },
            "stage_b": {
                "input": {"format": "parquet", "path": "{sf_dir}/lineitem.parquet"},
                "mappings": {"read": [{"name": "order_to_cust",
                                       "key_field": "l_orderkey"}]},
            },
        },
    }
    pipe = Pipeline(spec)
    work = f"{tmp}/work"
    # drop 1: even orderkeys only -- drains into the staging table
    pipe.compile(spark, path_vars={"sf_dir": sf_dir}, work_dir=work)
    # drop 2: the odd orderkeys land as NEW part files; the same work_dir
    # makes this compile incremental (only the new files are read)
    orders.where(F.col("o_orderkey") % 2 == 1).write.mode("append").json(src)
    outputs, _ = pipe.compile(spark, path_vars={"sf_dir": sf_dir}, work_dir=work)
    return (
        outputs["stage_b"]
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
    )


@register(
    "pipeline_kafka_wire_stream_enrich",
    """
SELECT o.o_custkey AS custkey,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_price_cents
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
""",
)
def pipeline_kafka_wire_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The YAML compiler's KAFKA stage end-to-end (plans.pipeline,
    ``input.format: kafka`` -- the reference's declared ingestion intent,
    src/setup.py:4-17 / src/config.py:2-3), proven broker-lessly through
    the wire-REPLAY mode: orders are encoded to the exact Kafka wire schema
    (format_kafka_value + archive metadata) in TWO separate topic dumps, a
    kafka stage decodes each through parse_kafka_value and drains it
    AvailableNow into its checkpointed staging table (the second compile
    ingests ONLY the new archive files), the orderkey->custkey mapping is
    extracted from the staged table, and a batch stage enriches lineitem
    through it.  Every lineitem finds its order, so the inner-join oracle
    reproduces the result exactly IFF no offset was lost or double-ingested
    -- the same incremental-ingest contract as pipeline_stream_stage_enrich,
    now over the Kafka wire path (decode included)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from odp_dynamic_data_pipeline_spark.plans.pipeline import Pipeline
    from odp_dynamic_data_pipeline_spark.sources.writers import format_kafka_value

    tmp = _stream_tmpdir("pipeline_kafka_wire")
    wire_dir = f"{tmp}/wire"
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")

    def _dump(df: DataFrame, mode: str) -> None:
        (
            format_kafka_value(df, key_cols="o_orderkey")
            .withColumn("topic", F.lit("orders"))
            .withColumn("partition", F.lit(0).cast("int"))
            .withColumn("offset", F.monotonically_increasing_id())
            .withColumn("timestamp", F.to_timestamp(F.lit("2024-11-16 12:00:00")))
            .withColumn("timestampType", F.lit(0).cast("int"))
            .write.mode(mode)
            .parquet(wire_dir)
        )

    payload = StructType(
        [StructField("o_orderkey", LongType()), StructField("o_custkey", LongType())]
    )
    spec = {
        "pipeline_name": "kafka_wire_demo",
        "stages": {
            "stage_k": {
                "input": {
                    "format": "kafka",
                    "wire_path": f"{wire_dir}/part*.parquet",
                    "wire_format": "parquet",
                    "schema": payload,
                },
                "mappings": {
                    "write": [{"name": "order_to_cust", "key": "o_orderkey",
                               "value": "o_custkey"}]
                },
            },
            "stage_b": {
                "input": {"format": "parquet", "path": "{sf_dir}/lineitem.parquet"},
                "mappings": {"read": [{"name": "order_to_cust",
                                       "key_field": "l_orderkey"}]},
            },
        },
    }
    pipe = Pipeline(spec)
    work = f"{tmp}/work"
    # dump 1: even orderkeys -- drains into the staging table
    _dump(orders.where(F.col("o_orderkey") % 2 == 0), "overwrite")
    pipe.compile(spark, path_vars={"sf_dir": sf_dir}, work_dir=work)
    # dump 2: odd orderkeys land as NEW archive files; same work_dir =>
    # the checkpointed source reads only the new files
    _dump(orders.where(F.col("o_orderkey") % 2 == 1), "append")
    outputs, _ = pipe.compile(spark, path_vars={"sf_dir": sf_dir}, work_dir=work)
    return (
        outputs["stage_b"]
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_cents("l_extendedprice")).alias("sum_price_cents"),
        )
    )


@register(
    "hour_partition_counts",
    """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1
""",
)
def hour_partition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: hour bucketing -- the reference's ``{hour}`` path token as a
    partition-friendly derived column."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("hour_epoch", F.unix_timestamp(F.date_trunc("hour", F.col("ts"))))
        .groupBy("hour_epoch")
        .agg(F.count(F.lit(1)).alias("n_events"), F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "watermark_dedup_stream",
    """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY event_type
""",
)
def watermark_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEVENTH stream==batch==oracle family: in-flight bounded-state dedup
    (dropDuplicatesWithinWatermark, SURVEY section 2.7).  The replay emits
    every event in batch 0 and re-emits every fifth event in batch 1
    (cross-micro-batch duplicates, the case plain per-batch dedup misses);
    the stream must drop exactly the echoes, so the surviving set equals
    the original events table and the per-type count/id-checksum/cents
    aggregate matches the batch oracle bit-for-bit.  The watermark is set
    beyond the data's span so no state is evicted mid-replay (eviction
    semantics are covered by tests/test_streaming_ttl.py); a checksum
    mismatch would catch either a leaked duplicate or a dropped
    original."""
    import glob
    import os
    import shutil

    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        dedup_within_watermark,
        run_available_now,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    tmp = _stream_tmpdir("wm_dedup_stream")
    src = f"{tmp}/in"
    os.makedirs(src)
    echoes = ev.where(F.col("event_id") % 5 == 0)
    for i, part in enumerate((ev, echoes)):
        part_dir = f"{tmp}/part{i}"
        part.coalesce(1).write.mode("overwrite").parquet(part_dir)
        (part_file,) = glob.glob(f"{part_dir}/part-*.parquet")
        dst = f"{src}/batch{i}.parquet"
        shutil.move(part_file, dst)
        os.utime(dst, (1_700_000_000 + i * 600, 1_700_000_000 + i * 600))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = dedup_within_watermark(stream, keys=["event_id"], ts_col="ts", watermark="3650 days")
    out, ckpt = f"{tmp}/out", f"{tmp}/ckpt"
    with _stream_shuffle(spark):
        run_available_now(deduped, format="parquet", query_name="", path=out, checkpoint=ckpt)
    survived = spark.read.schema(ev.schema).parquet(out)
    return survived.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("event_id").cast("long").alias("id_checksum"),
        F.sum(F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)")).cast("long").alias("sum_cents"),
    )


@register(
    "hopping_window_stream",
    """
WITH e AS (SELECT epoch_us(ts) AS t_us FROM events),
w AS (
  SELECT ((t_us // 1800000000) - k) * 1800000000 AS win_start_us
  FROM e CROSS JOIN (SELECT UNNEST([0, 1]) AS k)
  WHERE t_us < ((t_us // 1800000000) - k) * 1800000000 + 3600000000
    AND ((t_us // 1800000000) - k) * 1800000000 >= 0
)
SELECT win_start_us, COUNT(*) AS n_events
FROM w GROUP BY win_start_us
""",
)
def hopping_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EIGHTH stream==batch==oracle family: HOPPING windows on a stream --
    1-hour windows sliding every 30 minutes, each event counted in two
    overlapping state rows, complete-mode AvailableNow replay -- against
    a shifted floor-bucket oracle (each event counted in its two
    30-minute-aligned 1-hour windows).
    Proves the overlapping-window state path (distinct from the tumbling
    twin hourly_event_counts_stream)."""
    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        run_available_now,
        windowed_event_counts,
    )

    ev = load_table(spark, sf_dir, "events").select("ts")
    tmp = _stream_tmpdir("hopping_stream")
    stream = _replay_stream(spark, ev, tmp)
    counts = windowed_event_counts(
        stream, ts_col="ts", window="1 hour", watermark="2 hours", slide="30 minutes"
    )
    with _stream_shuffle(spark):
        run_available_now(
            counts,
            query_name="hopping_stream_mem",
            checkpoint=f"{tmp}/ckpt",
            output_mode="complete",
        )
    return spark.table("hopping_stream_mem").select(
        F.unix_micros(F.col("window.start")).alias("win_start_us"), "n_events"
    )


@register(
    "stream_stream_left_outer",
    """
WITH v AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'view' AND user_id % 3 = 1),
p AS (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase' AND user_id % 3 = 1)
SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id
FROM v LEFT JOIN p
  ON v.user_id = p.user_id
 AND p.ts BETWEEN v.ts - INTERVAL 30 MINUTE AND v.ts + INTERVAL 30 MINUTE
""",
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM LEFT OUTER join twin (ninth stream==batch family):
    views without a purchase within +/-30 min must ALSO emit, with NULL on
    the right -- the semantics Spark only allows when both watermarks and a
    time-range condition bound the state, because an unmatched row is
    provably unmatched only once the watermark passes its join window.

    The replay nuance this query exists to pin down: outer-null rows are
    emitted by the WATERMARK advancing, and the final watermark of a finite
    replay stops at max(event_time) - delay, so trailing unmatched rows
    would be silently dropped and stream != batch.  Each input therefore
    appends one far-future SENTINEL row (user_id -1, filtered from the
    output; the two sentinels are 10 days apart so they never pair) that
    pushes the global watermark past every real row's join window before
    the no-data flush batch.  At 100 TB the sentinel is unnecessary --
    production streams keep running and the watermark keeps moving; it is
    the finite-replay equivalence harness, same role as AvailableNow."""

    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        run_available_now,
        stream_stream_join,
    )

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") % 3 == 1)
    tmp = _stream_tmpdir("ssloj_stream")
    sent_v = spark.sql(
        "SELECT CAST(-1 AS BIGINT) AS event_id, CAST(-1 AS BIGINT) AS user_id,"
        " TIMESTAMP'2030-01-01 00:00:00' AS ts"
    )
    sent_p = spark.sql(
        "SELECT CAST(-1 AS BIGINT) AS event_id, CAST(-1 AS BIGINT) AS user_id,"
        " TIMESTAMP'2030-01-11 00:00:00' AS ts"
    )
    views = _replay_stream(
        spark,
        ev.where(F.col("event_type") == "view")
        .select("event_id", "user_id", "ts")
        .unionByName(sent_v),
        f"{tmp}/v",
    )
    purchases = _replay_stream(
        spark,
        ev.where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
        .unionByName(sent_p),
        f"{tmp}/p",
    )
    # The sentinel filter MUST stay OUT of the streaming plan: Catalyst
    # pushes a post-join `user_id >= 0` below the join and below the
    # watermark node into the view source, so the sentinel never lifts the
    # view-side watermark and the last real unmatched view (whose own ts IS
    # that side's max event time) can never flush.  Filter on the read-back
    # instead; the sink simply also writes the two sentinel rows.
    joined = stream_stream_join(
        views,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        left_watermark="1 hour",
        right_watermark="1 hour",
        within="30 minutes",
        how="left_outer",
    ).select(
        F.col("event_id").alias("view_id"),
        F.col("r_event_id").alias("purchase_id"),
        "user_id",
    )
    with _stream_shuffle(spark):
        run_available_now(
            joined, format="parquet", query_name="", path=f"{tmp}/out", checkpoint=f"{tmp}/ckpt"
        )
    return (
        spark.read.schema("view_id bigint, purchase_id bigint, user_id bigint")
        .parquet(f"{tmp}/out")
        .where(F.col("user_id") >= 0)
    )


@contextmanager
def _rocksdb_state_store(spark: SparkSession):
    """Swap the streaming state store to the RocksDB provider for one
    query, restoring the previous provider after.  The provider class is a
    session conf read at STREAM START and baked into the checkpoint, so a
    context manager around a fresh-checkpoint AvailableNow run is the
    correct scoping."""
    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        old = spark.conf.get(key)
    except Exception:  # noqa: BLE001 - unset -> restore to default HDFS provider
        old = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    spark.conf.set(
        key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    try:
        yield
    finally:
        spark.conf.set(key, old)


@register(
    "hourly_counts_rocksdb_stream",
    """
SELECT date_trunc('hour', ts) AS hour_ts, event_type,
       COUNT(*) AS n_events
FROM events GROUP BY hour_ts, event_type
""",
)
def hourly_counts_rocksdb_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hourly windowed-agg twin re-run on the ROCKSDB state store
    provider -- the production state backend for large stateful topologies
    (state spills to local SSD instead of living on the JVM heap, so
    per-partition state is bounded by disk, not executor memory; changelog
    checkpointing ships deltas).  Same tumbling-window plan, same batch
    oracle, so the hash gate proves provider swap changes WHERE state
    lives, never WHAT it computes.  At 100 TB stateful jobs default to
    this provider; the HDFS-backed heap store is the small-state path."""

    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        run_available_now,
        windowed_event_counts,
    )

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    tmp = _stream_tmpdir("hourly_rocksdb_stream")
    stream = _replay_stream(spark, ev, tmp)
    counts = windowed_event_counts(
        stream, ts_col="ts", window="1 hour", watermark="2 hours", group_cols=["event_type"]
    )
    with _rocksdb_state_store(spark), _stream_shuffle(spark):
        run_available_now(
            counts,
            query_name="hourly_counts_rocksdb_mem",
            checkpoint=f"{tmp}/ckpt",
            output_mode="complete",
        )
    return spark.table("hourly_counts_rocksdb_mem").select(
        F.col("window.start").alias("hour_ts"), "event_type", "n_events"
    )


@register(
    "checkpoint_resume_stream",
    """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY event_type
""",
)
def checkpoint_resume_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint RESUME across two separate stream launches -- the
    exactly-once property a production pipeline actually relies on: run 1
    ingests the first half of the source directory and STOPS; more files
    land; run 2 starts from the SAME checkpoint, must skip every
    already-committed file (the file-stream source tracks seen files in the
    checkpoint's offset log, so the re-listed old files are not re-read)
    and ingest only the new ones.  The ingest is a stateless projection in
    append mode; the returned aggregate over the sink equals the one-shot
    batch GROUP BY, proving no row was lost or duplicated across the
    restart boundary.  This is the recovery contract that makes AvailableNow
    catch-up jobs idempotent at any scale -- rerunning after a crash costs
    only the uncommitted tail."""

    from odp_dynamic_data_pipeline_spark.streaming.stream import run_available_now

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", _cents("value").alias("cents")
    )
    tmp = _stream_tmpdir("ckpt_resume")
    src, out, ckpt = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt"
    half_a = ev.where(F.col("event_id") % 2 == 0)
    half_b = ev.where(F.col("event_id") % 2 == 1)
    half_a.write.parquet(src)  # run 1 sees only half A's files
    schema = "event_id bigint, event_type string, cents bigint"

    def _run():
        stream = spark.readStream.schema(schema).parquet(src)
        run_available_now(
            stream, format="parquet", query_name="", path=out, checkpoint=ckpt
        )

    _run()
    half_b.write.mode("append").parquet(src)  # new files land; old ones still listed
    _run()
    return (
        spark.read.schema(schema)
        .parquet(out)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sum_cents"))
    )


@register(
    "pyds_sink_roundtrip",
    """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM documents WHERE doc_id % 4 = 0 GROUP BY lang
""",
)
def pyds_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python DataSource WRITE path (the outbound twin of
    pyds_synthetic_corpus): a thinned documents projection flows through
    the registered pure-Python ``jsonl_pysink`` -- per-partition .tmp
    spill, driver-side two-phase commit rename, task-retry orphans never
    visible -- then is re-read as schema-declared JSONL and aggregated;
    the oracle aggregates the parquet directly, so the hash gate proves
    the custom sink's write-commit-read cycle is lossless and
    exactly-once.  Python at the EGRESS boundary by design (sinks are
    where bespoke protocols live); the per-row cost is bounded by the
    released subset, never the corpus."""
    from odp_dynamic_data_pipeline_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 4 == 0)
        .select("doc_id", "lang", "n_chars")
    )
    tmp = _stream_tmpdir("pyds_sink")
    out = f"{tmp}/jsonl"
    docs.write.format("jsonl_pysink").option("path", out).mode("append").save()
    back = (
        spark.read.schema("doc_id bigint, lang string, n_chars bigint")
        .option("pathGlobFilter", "*.jsonl")
        .json(out)
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("doc_id").alias("id_sum"),
    )


@register(
    "stream_static_enrich_stream",
    """
WITH ev AS (SELECT user_id, event_type,
                   CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
            FROM events),
dim AS (SELECT c_custkey AS user_id, c_mktsegment AS segment FROM customer)
SELECT COALESCE(d.segment, 'UNKNOWN') AS segment, ev.event_type,
       COUNT(*) AS n, CAST(SUM(ev.cents) AS BIGINT) AS sum_cents
FROM ev LEFT JOIN dim d ON ev.user_id = d.user_id
GROUP BY segment, ev.event_type
""",
)
def stream_static_enrich_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC enrichment twin (SURVEY section 2.7; the streaming
    form of the reference's per-event Redis lookup): events replay as a
    file stream, every micro-batch broadcast-joins the static customer
    dimension (streaming/stream.py `stream_enrich`), unmatched users keep
    flowing with an UNKNOWN segment (left join -- enrichment must never
    drop events), and the enriched stream lands in parquet for a
    batch-equal rollup.  Upgrades this survey row from unit-tested to
    driver-hash-verified.  The static side re-broadcasts per micro-batch,
    which is exactly the production contract for slowly-changing dims:
    restart (or use foreachBatch re-read) to pick up a new snapshot."""

    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        run_available_now,
        stream_enrich,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", _cents("value").alias("cents"))
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"), F.col("c_mktsegment").alias("segment")
    )
    tmp = _stream_tmpdir("sse_stream")
    stream = _replay_stream(spark, ev, tmp)
    enriched = stream_enrich(stream, dim, key_col="user_id").select(
        F.coalesce(F.col("segment"), F.lit("UNKNOWN")).alias("segment"),
        "event_type",
        "cents",
    )
    with _stream_shuffle(spark):
        run_available_now(
            enriched, format="parquet", query_name="", path=f"{tmp}/out", checkpoint=f"{tmp}/ckpt"
        )
    return (
        spark.read.schema("segment string, event_type string, cents bigint")
        .parquet(f"{tmp}/out")
        .groupBy("segment", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sum_cents"))
    )


@register(
    "kmv_distinct_users",
    """
WITH d AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h
  FROM events WHERE user_id IS NOT NULL
),
r AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM d
),
topk AS (SELECT event_type, h FROM r WHERE rn <= 64),
agg AS (
  SELECT event_type, LIST(h ORDER BY h) AS sketch,
         CAST(COUNT(*) AS BIGINT) AS n_sketch, MAX(h) AS hk
  FROM topk GROUP BY event_type
),
ex AS (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
       FROM events WHERE user_id IS NOT NULL GROUP BY event_type)
SELECT a.event_type, a.n_sketch,
       CASE WHEN a.n_sketch < 64 THEN a.n_sketch
            ELSE CAST(63 AS BIGINT) * (CAST(1 AS BIGINT) << 52) // a.hk END
         AS est_distinct,
       e.exact_users
FROM agg a JOIN ex e USING (event_type)
""",
)
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct sketch (operators.text.kmv_sketch,
    Bar-Yossef et al. 2002 / the Theta-sketch core) over per-event-type
    distinct users, k = 64, WITH the exact count alongside for error
    inspection.  Unlike the HLL family (whose register layout is
    library-specific, so those oracles check a 5%% tolerance boolean),
    the KMV sketch is deterministic md5 arithmetic -- the DuckDB oracle
    reproduces n_sketch AND the (k-1) * 2^52 / h_k estimate value-for-
    value, making this the only distinct-count sketch in the registry
    whose ESTIMATE is hash-gated.  Mergeability (shard sketches fold to
    the global sketch) is pinned by property tests."""
    from odp_dynamic_data_pipeline_spark.operators.text import kmv_sketch

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    sk = kmv_sketch(ev, "user_id", k=64, group_cols=["event_type"])
    exact = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return sk.join(exact, "event_type").select(
        "event_type", "n_sketch", "est_distinct", "exact_users"
    )


@register(
    "kmv_overlap_matrix",
    """
WITH d AS (
  SELECT DISTINCT event_type AS g,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h
  FROM events WHERE user_id IS NOT NULL
),
sk AS (
  SELECT g, h FROM (
    SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM d)
  WHERE rn <= 64
),
gs AS (SELECT DISTINCT g FROM sk),
prs AS (SELECT a.g AS g_a, b.g AS g_b FROM gs a JOIN gs b ON a.g < b.g),
u AS (
  SELECT p.g_a, p.g_b, s.h FROM prs p JOIN sk s ON s.g = p.g_a
  UNION
  SELECT p.g_a, p.g_b, s.h FROM prs p JOIN sk s ON s.g = p.g_b
),
uk AS (
  SELECT g_a, g_b, h FROM (
    SELECT g_a, g_b, h,
           row_number() OVER (PARTITION BY g_a, g_b ORDER BY h) AS rn FROM u)
  WHERE rn <= 64
),
m AS (
  SELECT uk.g_a, uk.g_b, uk.h,
         CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL THEN 1 ELSE 0 END AS bth
  FROM uk
  LEFT JOIN sk sa ON sa.g = uk.g_a AND sa.h = uk.h
  LEFT JOIN sk sb ON sb.g = uk.g_b AND sb.h = uk.h
),
agg AS (
  SELECT g_a, g_b, CAST(COUNT(*) AS BIGINT) AS n_union_sketch, MAX(h) AS hk,
         CAST(SUM(bth) AS BIGINT) AS n_common
  FROM m GROUP BY g_a, g_b
),
est AS (
  SELECT g_a, g_b, n_union_sketch, n_common,
         CASE WHEN n_union_sketch < 64 THEN n_union_sketch
              ELSE CAST(63 AS BIGINT) * (CAST(1 AS BIGINT) << 52) // hk END
           AS est_union
  FROM agg
)
SELECT g_a, g_b, n_union_sketch, est_union, n_common,
       (n_common * est_union) // n_union_sketch AS est_inter,
       (1000000 * n_common) // n_union_sketch AS est_jaccard_e6
FROM est
""",
)
def kmv_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise distinct-USER overlap between event types from KMV
    sketches (operators.text.kmv_overlap -- Theta-sketch set algebra on
    the deterministic 52-bit md5 space): union sketch = k smallest of the
    pair's combined sketches, n_common = union members present in BOTH,
    est_jaccard = n_common/|U|, est_inter = est_jaccard * est_union.  The
    cross-source audience-overlap matrix at 100 TB: each source sketched
    once, pairs operate on k-row sketches.  Every estimate is exact
    integer arithmetic, so the oracle hash-pins the VALUES -- an
    HLL-based overlap (inclusion-exclusion over three ~2%% estimates)
    could not be hash-gated."""
    from odp_dynamic_data_pipeline_spark.operators.text import kmv_overlap

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    return kmv_overlap(ev, "user_id", "event_type", k=64)


@register(
    "session_cap_windows",
    """
WITH RECURSIVE e AS (
  SELECT user_id, epoch_us(ts) AS tu,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
  FROM events
),
walk(user_id, rn, tu, sess, anchor) AS (
  SELECT user_id, rn, tu, CAST(1 AS BIGINT), tu FROM e WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn, e.tu,
         w.sess + CASE WHEN e.tu - w.tu > 28800000000 OR e.tu - w.anchor > 86400000000
                       THEN 1 ELSE 0 END,
         CASE WHEN e.tu - w.tu > 28800000000 OR e.tu - w.anchor > 86400000000
              THEN e.tu ELSE w.anchor END
  FROM walk w JOIN e ON e.user_id = w.user_id AND e.rn = w.rn + 1
)
SELECT user_id, CAST(sess AS BIGINT) AS session_n,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(tu) AS BIGINT) AS start_us,
       CAST(MAX(tu) AS BIGINT) AS end_us
FROM walk GROUP BY user_id, sess
""",
)
def session_cap_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap + duration-cap sessionization (operators.sessionize.
    sessionize_capped): a session ends after 8 h of inactivity OR once it
    has lasted 24 h since its FIRST event.  The cap makes the walk a
    data-dependent recurrence (each split moves the anchor the next split
    is measured from) with no window-algebra closed form, so it runs as
    the per-group Arrow-batched pattern -- greedy searchsorted jumps, one
    iteration per SESSION.  The DuckDB oracle replays the recurrence as a
    recursive CTE stepping every user's timeline in lockstep, so session
    numbering, sizes, and boundaries are value-exact."""
    from odp_dynamic_data_pipeline_spark.operators.sessionize import sessionize_capped

    ev = load_table(spark, sf_dir, "events")
    return sessionize_capped(
        ev, group_col="user_id", ts_col="ts", gap_s=28800, cap_s=86400, buckets=32
    )


@register(
    "session_cap_windows_stream",
    """
WITH RECURSIVE e AS (
  SELECT user_id, epoch_us(ts) AS tu,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
  FROM events
),
walk(user_id, rn, tu, sess, anchor) AS (
  SELECT user_id, rn, tu, CAST(1 AS BIGINT), tu FROM e WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn, e.tu,
         w.sess + CASE WHEN e.tu - w.tu > 28800000000 OR e.tu - w.anchor > 86400000000
                       THEN 1 ELSE 0 END,
         CASE WHEN e.tu - w.tu > 28800000000 OR e.tu - w.anchor > 86400000000
              THEN e.tu ELSE w.anchor END
  FROM walk w JOIN e ON e.user_id = w.user_id AND e.rn = w.rn + 1
)
SELECT user_id, CAST(sess AS BIGINT) AS session_n,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(tu) AS BIGINT) AS start_us,
       CAST(MAX(tu) AS BIGINT) AS end_us
FROM walk GROUP BY user_id, sess
""",
)
def session_cap_windows_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of session_cap_windows, checked against the SAME
    recursive-CTE oracle (stream == batch == oracle): events arrive in two
    CHRONOLOGICAL micro-batches (first half of the month, then the rest),
    streaming.run_incremental_sessions carries one open session per user
    in a bucketed delta-merge store (per-batch cost reads/rewrites only
    the buckets the batch touches) and emits sessions the moment a later
    event closes them on the gap or the cap.  Because a session boundary
    depends only on (previous event time, current anchor) -- both in the
    store -- ANY chronological split replays to exactly the one-shot
    batch result: emitted closed sessions + final open sessions hash-match
    sessionize_capped."""
    import glob
    import os
    import shutil

    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        read_incremental_sessions,
        run_incremental_sessions,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    tmp = _stream_tmpdir("sesscap_stream")
    src = f"{tmp}/in"
    os.makedirs(src)
    cutoff = F.lit("2024-01-16").cast("timestamp")
    for i, pred in enumerate((F.col("ts") < cutoff, F.col("ts") >= cutoff)):
        part_dir = f"{tmp}/part{i}"
        ev.where(pred).coalesce(1).write.mode("overwrite").parquet(part_dir)
        (part_file,) = glob.glob(f"{part_dir}/part-*.parquet")
        dst = f"{src}/batch{i}.parquet"
        shutil.move(part_file, dst)
        os.utime(dst, (1_700_000_000 + i * 600, 1_700_000_000 + i * 600))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with _stream_shuffle(spark):
        run_incremental_sessions(
            stream,
            f"{tmp}/store",
            f"{tmp}/out",
            checkpoint=f"{tmp}/ckpt",
            group_col="user_id",
            ts_col="ts",
            gap_s=28800,
            cap_s=86400,
            # bucket count sized to the 1.5k-user keyspace (see SCALE.md:
            # per-batch IO ~= touched_buckets * store/B)
            n_buckets=16,
        )
    return read_incremental_sessions(spark, f"{tmp}/store", f"{tmp}/out")


@register(
    "asof_next_purchase",
    """
WITH v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
p AS (SELECT user_id, ts, CAST(ROUND(value * 100, 0) AS BIGINT) AS purchase_value_cents
      FROM events WHERE event_type = 'purchase')
SELECT v.event_id, v.user_id,
       epoch_us(v.ts) AS ts_us,
       epoch_us(p.ts) AS purchase_ts_us,
       p.purchase_value_cents
FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts <= p.ts
""",
)
def asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (operators.asof.asof_join direction='forward'):
    each 'view' matched to the user's NEXT 'purchase' at-or-after it --
    the attribution-lookahead mirror of asof_last_view, same union +
    ordered-window shape (one shuffle on the key, no range explosion),
    frame flipped to current-row-to-end with FIRST ignorenulls.  Oracle:
    DuckDB's native ASOF with the <= inequality."""
    from odp_dynamic_data_pipeline_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", _cents("value").alias("purchase_value_cents")
    )
    out = asof_join(
        views, purchases, on="user_id", ts_col="ts",
        right_ts_alias="purchase_ts", direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        "purchase_value_cents",
    )


@register(
    "weighted_median_price",
    """
WITH pv AS (
  SELECT l_returnflag, l_linestatus,
         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS price_cents,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2, 3
),
c AS (
  SELECT l_returnflag, l_linestatus, price_cents, w,
         SUM(w) OVER (PARTITION BY l_returnflag, l_linestatus
                      ORDER BY price_cents
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(w) OVER (PARTITION BY l_returnflag, l_linestatus) AS tot
  FROM pv
),
nd AS (
  SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n_distinct_values
  FROM pv GROUP BY 1, 2
)
SELECT c.l_returnflag, c.l_linestatus,
       CAST(MAX(tot) AS BIGINT) AS total_w,
       nd.n_distinct_values,
       CAST(MIN(price_cents) AS BIGINT) AS wmedian
FROM c JOIN nd USING (l_returnflag, l_linestatus)
WHERE 2 * cum >= tot
GROUP BY c.l_returnflag, c.l_linestatus, nd.n_distinct_values
""",
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median line price per (returnflag, linestatus)
    (operators.aggregate.weighted_median): the lower weighted median --
    smallest price whose cumulative quantity reaches half the group's
    total -- so the result is an actual data value and everything stays
    integer-exact.  Ties collapse FIRST (map-side partial agg); the
    cumulative window runs over the distinct-price rollup, never data
    rows."""
    from odp_dynamic_data_pipeline_spark.operators.aggregate import weighted_median

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        _cents("l_extendedprice").alias("price_cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    out = weighted_median(li, ["l_returnflag", "l_linestatus"], "price_cents", "qty")
    return out.select(
        "l_returnflag", "l_linestatus", "total_w", "n_distinct_values",
        F.col("wmedian").cast("long").alias("wmedian"),
    )


@register(
    "cdc_upsert_stream",
    """
SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
       CAST(ROUND(value * 100, 0) AS BIGINT) AS value_cents
FROM (
  SELECT user_id, ts, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE user_id IS NOT NULL
) WHERE rn = 1
""",
)
def cdc_upsert_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC upsert == batch latest-row-per-key, driver-verified
    (streaming.run_incremental_upsert): events replayed as micro-batches
    in ARBITRARY order (no chronology requirement -- max-by-seq is
    commutative, deliberately unlike the sessionizer's guard) folded into
    a bucketed last-wins store; the final store is checked against the
    one-shot window oracle.  The streaming face of MERGE WHEN MATCHED
    UPDATE, with (ts, event_id) as the deterministic sequence."""
    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        read_incremental_upsert,
        run_incremental_upsert,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id", "ts", "event_id", "event_type", _cents("value").alias("value_cents"))
        .repartition(4)
    )
    tmp = _stream_tmpdir("cdc_upsert_stream")
    src = f"{tmp}/in"
    ev.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    with _stream_shuffle(spark):
        run_incremental_upsert(
            stream,
            f"{tmp}/store",
            checkpoint=f"{tmp}/ckpt",
            key_cols=["user_id"],
            seq_cols=["ts", "event_id"],
            # B sizes to the keyspace (1.5k users here): a bucket should
            # stay ~file-sized -- the same knob the rehearsal runs at 1024
            # over 3M keys
            n_buckets=32,
        )
    return read_incremental_upsert(spark, f"{tmp}/store").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
        F.col("value_cents").cast("long").alias("value_cents"),
    )


@register(
    "cdc_upsert_deletes_stream",
    """
SELECT user_id, ts_us, event_id, value_cents FROM (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS value_cents,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE user_id IS NOT NULL
) WHERE rn = 1 AND event_type <> 'purchase'
""",
)
def cdc_upsert_deletes_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert WITH DELETE TOMBSTONES == batch latest-live-row-per-key,
    driver-verified: 'purchase' events act as the MERGE WHEN MATCHED
    DELETE half -- a delete competes by (ts, event_id) like any update
    and, when it wins, the key disappears from the LIVE view but its
    tombstone is RETAINED in the store so a late lower-seq update cannot
    resurrect it (the log-compaction delete-retention semantics;
    resurrection pinned by crafted test).  The query then runs
    expire_upsert_tombstones -- the retention compaction that rewrites
    only tombstone-bearing buckets and DROPS emptied buckets from the
    map -- and reads the live view from the COMPACTED store, so the one
    oracle hash-gates winner election, tombstone filtering, and the
    expiry rewrite together."""
    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        expire_upsert_tombstones,
        read_incremental_upsert,
        run_incremental_upsert,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            "ts",
            "event_id",
            (F.col("event_type") == "purchase").alias("__del"),
            _cents("value").alias("value_cents"),
        )
        .repartition(4)
    )
    tmp = _stream_tmpdir("cdc_upsert_del_stream")
    src = f"{tmp}/in"
    ev.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    with _stream_shuffle(spark):
        run_incremental_upsert(
            stream,
            f"{tmp}/store",
            checkpoint=f"{tmp}/ckpt",
            key_cols=["user_id"],
            seq_cols=["ts", "event_id"],
            n_buckets=32,
            delete_col="__del",
        )
    expire_upsert_tombstones(
        spark, f"{tmp}/store", key_cols=["user_id"], delete_col="__del", n_buckets=32
    )
    return read_incremental_upsert(spark, f"{tmp}/store", delete_col="__del").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.col("value_cents").cast("long").alias("value_cents"),
    )


@register(
    "cdc_upsert_expiry_replay_stream",
    """
SELECT user_id, ts_us, event_id, value_cents FROM (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS value_cents,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE user_id IS NOT NULL
) WHERE rn = 1 AND event_type <> 'purchase'
""",
)
def cdc_upsert_expiry_replay_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert with tombstone expiry AND a post-maintenance REPLAY ==
    batch latest-live-row-per-key, driver-verified: after the streaming
    fold and the retention compaction (expire_upsert_tombstones, which
    flips to a reserved ``v{B}m{k}`` maintenance version), the full
    event set is RE-FOLDED under the same batch id B -- the post-flip
    retry scenario the advisor's r10 finding targeted.  The maintenance
    namespace makes base_for_batch resolve that replay to the EXPIRED
    state (a ``v{B}_r{k}`` name would have matched the retry rule and
    rebuilt from the pre-expiry parent, resurrecting every tombstone);
    max-by-seq re-folding is idempotent, the re-inserted delete winners
    are filtered at read, and a second expiry reclaims them again.  One
    oracle hash-gates winner election, expiry, maintenance-replay, and
    re-expiry idempotence together (r11)."""
    from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore
    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        apply_incremental_upsert_batch,
        expire_upsert_tombstones,
        read_incremental_upsert,
        run_incremental_upsert,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            "ts",
            "event_id",
            (F.col("event_type") == "purchase").alias("__del"),
            _cents("value").alias("value_cents"),
        )
        .repartition(4)
    )
    tmp = _stream_tmpdir("cdc_upsert_expiry_replay")
    src = f"{tmp}/in"
    ev.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    with _stream_shuffle(spark):
        run_incremental_upsert(
            stream,
            f"{tmp}/store",
            checkpoint=f"{tmp}/ckpt",
            key_cols=["user_id"],
            seq_cols=["ts", "event_id"],
            n_buckets=32,
            delete_col="__del",
        )
        expire_upsert_tombstones(
            spark, f"{tmp}/store", key_cols=["user_id"], delete_col="__del", n_buckets=32
        )
        m = ManifestStore(spark, f"{tmp}/store", n_extras=2)
        last_bid = m.version_batch_id(m.read_manifest().current)
        # superset replay under the maintenance flip's own batch id: the
        # most adversarial retry (every row already folded, every expired
        # tombstone re-arriving)
        apply_incremental_upsert_batch(
            ev, last_bid, f"{tmp}/store",
            key_cols=["user_id"], seq_cols=["ts", "event_id"], n_buckets=32,
            delete_col="__del",
        )
        expire_upsert_tombstones(
            spark, f"{tmp}/store", key_cols=["user_id"], delete_col="__del", n_buckets=32
        )
    return read_incremental_upsert(spark, f"{tmp}/store", delete_col="__del").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.col("value_cents").cast("long").alias("value_cents"),
    )


@register(
    "winsorized_value_stats",
    """
WITH x AS (
  SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS cents FROM events
),
pv AS (
  SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS c FROM x GROUP BY 1, 2
),
cum AS (
  SELECT event_type, cents,
         SUM(c) OVER (PARTITION BY event_type ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cumc,
         SUM(c) OVER (PARTITION BY event_type) AS tot
  FROM pv
),
bounds AS (
  SELECT event_type,
         MIN(CASE WHEN 100 * cumc >= 5 * tot THEN cents END) AS lo_bound,
         MIN(CASE WHEN 100 * cumc >= 95 * tot THEN cents END) AS hi_bound
  FROM cum GROUP BY event_type
)
SELECT x.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MAX(lo_bound) AS BIGINT) AS lo_bound,
       CAST(MAX(hi_bound) AS BIGINT) AS hi_bound,
       CAST(SUM(CASE WHEN cents < lo_bound THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
       CAST(SUM(CASE WHEN cents > hi_bound THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
       CAST(SUM(GREATEST(lo_bound, LEAST(hi_bound, cents))) AS BIGINT) AS wins_sum,
       CAST((1000000 * SUM(GREATEST(lo_bound, LEAST(hi_bound, cents)))) // COUNT(*) AS BIGINT) AS wins_mean_e6
FROM x JOIN bounds USING (event_type)
GROUP BY x.event_type
""",
)
def winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-type value statistics
    (operators.aggregate.winsorized_stats): values clamped to the
    nearest-rank p05/p95 bounds before summing -- the robust mean that
    tames heavy tails without dropping rows.  Nearest-rank bounds are
    actual data values, so the clipped sum stays integer-exact end to
    end -- deliberately NOT the interpolated quantile, whose fractional
    bounds would push the sum into float territory."""
    from odp_dynamic_data_pipeline_spark.operators.aggregate import winsorized_stats

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", _cents("value").alias("cents")
    )
    return winsorized_stats(ev, ["event_type"], "cents", p_lo=5, p_hi=95)


@register(
    "incremental_postings_stream",
    r"""
WITH tok AS (
  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM (
    SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
    FROM documents
  ) GROUP BY doc_id, t
)
SELECT t, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS cf
FROM tok GROUP BY t
""",
)
def incremental_postings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL inverted-index statistics == batch statistics,
    driver-verified: per-(doc, term) tf rows stream in micro-batches into
    run_incremental_agg's versioned store keyed by term -- df folds as a
    plain count (each doc lives in exactly one drop, so (doc, term) rows
    never repeat across batches) and cf as a sum -- and the final store
    is checked against the one-shot corpus rollup.  This is the index-
    maintenance loop of a retrieval stack: the SAME (term, df, cf) table
    bm25_scores derives per query is kept current per arriving batch
    instead of recomputed corpus-wide."""
    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        read_incremental_agg,
        run_incremental_agg,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = (
        docs.select(
            "doc_id",
            F.explode(F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).alias("t"),
        )
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .repartition(4)
    )
    tmp = _stream_tmpdir("incpostings_stream")
    src = f"{tmp}/in"
    tok.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(tok.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    with _stream_shuffle(spark):
        # a real vocabulary is a LARGE keyspace (millions of terms at
        # corpus scale): per-batch IO must be the buckets the batch's
        # terms hash into, not the whole index
        run_incremental_agg(
            stream,
            f"{tmp}/store",
            checkpoint=f"{tmp}/ckpt",
            key_cols=["t"],
            count_col="df",
            sum_col="tf",
            n_buckets=64,
        )
    return read_incremental_agg(spark, f"{tmp}/store").select(
        "t", F.col("df").cast("long").alias("df"), F.col("sum_tf").cast("long").alias("cf")
    )


@register(
    "incremental_topk_stream",
    """
WITH agg AS (
  SELECT event_type, user_id,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
  FROM events WHERE user_id IS NOT NULL GROUP BY event_type, user_id
),
r AS (
  SELECT event_type, user_id, sum_cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY sum_cents DESC, user_id) AS rnk
  FROM agg
)
SELECT event_type, CAST(rnk AS BIGINT) AS rnk, user_id, sum_cents
FROM r WHERE rnk <= 3
""",
)
def incremental_topk_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k SERVED off an incrementally maintained view == batch top-k,
    driver-verified: per-(type, user) cent totals fold across micro-batches
    into the BUCKETED delta-merge store (per-batch IO bounded by touched
    buckets), and the top-3 spenders per event type are read from the
    final store through a WindowGroupLimit rank -- the dashboard pattern
    where the expensive aggregate is maintained, not recomputed, and the
    cheap rank runs at read time."""
    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        read_incremental_agg,
        run_incremental_agg,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("event_type", "user_id", _cents("value").alias("cents"))
        .repartition(4)
    )
    tmp = _stream_tmpdir("inctopk_stream")
    src = f"{tmp}/in"
    ev.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    with _stream_shuffle(spark):
        run_incremental_agg(
            stream,
            f"{tmp}/store",
            checkpoint=f"{tmp}/ckpt",
            key_cols=["event_type", "user_id"],
            sum_col="cents",
            n_buckets=32,
        )
    agg = read_incremental_agg(spark, f"{tmp}/store")
    w = Window.partitionBy("event_type").orderBy(
        F.col("sum_cents").desc(), F.col("user_id").asc()
    )
    return (
        agg.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select("event_type", "rnk", "user_id", F.col("sum_cents").cast("long").alias("sum_cents"))
    )
