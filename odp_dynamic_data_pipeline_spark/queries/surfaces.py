"""Round-6 API-surface queries: the Spark-4 frontend/extension surfaces a
reference user would reach for that were not yet first-class in the
registry -- cogrouped applyInPandas (two-sided grouped pandas), SQL pipe
syntax (``|>``), DataFrame.transpose, and k-core decomposition completing
the dedup-graph family (CC, PageRank, triangles, now coreness).

Every query is oracle-gated; determinism follows the registry policy
(integer cents/micros, epoch integers across the boundary).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odp_dynamic_data_pipeline_spark.operators import dedup as dd
from odp_dynamic_data_pipeline_spark.operators import similarity as sim
from odp_dynamic_data_pipeline_spark.queries import register
from odp_dynamic_data_pipeline_spark.queries.llm import (
    MINHASH_MD5_ORACLE,
    dedup_minhash_md5,
)
from odp_dynamic_data_pipeline_spark.sources.catalog import load_table, register_views


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled peel replay over the shared md5-minhash candidate pairs
    (same prefix reuse as the PageRank/triangle oracles): round r computes
    degrees over edges{r-1}, dooms nodes with degree < k, and keeps only
    edges between survivors.  Every chained CTE is MATERIALIZED: each
    round references its predecessor 2-3 times, so default inlining would
    re-expand the whole minhash pipeline O(3^rounds) times (measured: the
    un-hinted oracle never finished at sf0.01)."""
    prefix = MINHASH_MD5_ORACLE[: MINHASH_MD5_ORACLE.index("SELECT a.doc_id AS id_a")]
    sql = prefix + """, pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.bi = b.bi AND a.b = b.b AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
edges0 AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs),
deg0 AS MATERIALIZED (SELECT s AS nid, CAST(COUNT(*) AS BIGINT) AS deg0 FROM edges0 GROUP BY s),
surv0 AS MATERIALIZED (SELECT nid FROM deg0)"""
    for r in range(1, rounds + 1):
        p = r - 1
        sql += f""",
degs{r} AS MATERIALIZED (
  SELECT v.nid, COALESCE(q.cnt, 0) AS dg
  FROM surv{p} v LEFT JOIN (SELECT s, COUNT(*) AS cnt FROM edges{p} GROUP BY s) q
    ON q.s = v.nid
),
doom{r} AS MATERIALIZED (SELECT nid FROM degs{r} WHERE dg < {k}),
surv{r} AS MATERIALIZED (SELECT nid FROM degs{r} WHERE dg >= {k}),
edges{r} AS MATERIALIZED (
  SELECT e.s, e.d FROM edges{p} e
  JOIN surv{r} a ON e.s = a.nid JOIN surv{r} b ON e.d = b.nid
)"""
    removed = "\nUNION ALL ".join(
        f"SELECT nid, CAST({r} AS BIGINT) AS rr FROM doom{r}" for r in range(1, rounds + 1)
    )
    return sql + f""",
removed AS ({removed})
SELECT g.nid, g.deg0,
       CAST(COALESCE(x.rr, 0) AS BIGINT) AS removed_round,
       (x.rr IS NULL) AS in_core
FROM deg0 g LEFT JOIN removed x ON x.nid = g.nid
"""


@register("dedup_graph_kcore", _kcore_oracle(k=2, rounds=5))
def dedup_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (operators.dedup.kcore_peel) over the near-dup
    candidate graph: fixed 5-round degree-< 2 peel, reporting each node's
    initial degree, the round it was peeled (0 = survived), and core
    membership -- separates dense boilerplate cores from incidental pair
    appendages.  Fifth oracle-gated metric on the shared md5-minhash pair
    list; the DuckDB oracle unrolls the identical peel rounds."""
    edges = dedup_minhash_md5(spark, sf_dir).select("id_a", "id_b").localCheckpoint(eager=False)
    return dd.kcore_peel(edges, k=2, rounds=5)


WINDOW_US = 3_600_000_000  # trailing attribution window: 1 hour in micros


def align_attribution_windows(pdf_p, pdf_v):
    """Cogroup kernel for ``cogroup_attribution_windows``: a BUCKET of
    users' purchases (event_id, user_id, ts_us) aligned against the same
    bucket's views (user_id, v_us, cents).

    Multi-user and fully vectorized: both sides sort by (user, ts), then
    every binary search runs on a COMPOSITE int64 key
    ``user_id * span + (ts - base)`` whose per-user ranges are disjoint, so
    one np.searchsorted answers all users at once and per-user prefix-sum
    differences never cross a user boundary (window starts clamp to the
    user's own range start).  This is the high-cardinality grouped-pandas
    mitigation: keying the cogroup by ``user_id`` directly costs ~4 ms of
    Arrow/pandas machinery PER GROUP (measured: 1,500 users -> 6.2 s at
    sf0.1 regardless of shuffle partitions); bucketing divides that
    overhead by users-per-bucket while the kernel stays O((P+V) log V).

    Falls back to a per-user pandas groupby loop if the composite key
    cannot fit in int64 (gigantic user ids x time span) -- correctness
    never depends on the fast path.  Module-level so unit tests can feed
    crafted frames (empty sides, tied timestamps, cross-user isolation) --
    tests/test_cogroup.py."""
    import numpy as np
    import pandas as pd

    if len(pdf_p) == 0:
        return pd.DataFrame(
            {
                "event_id": pd.Series([], dtype="int64"),
                "user_id": pd.Series([], dtype="int64"),
                "ts_us": pd.Series([], dtype="int64"),
                "n_views_1h": pd.Series([], dtype="int64"),
                "sum_view_cents_1h": pd.Series([], dtype="int64"),
                "last_view_gap_us": pd.Series([], dtype="Int64"),
            }
        )
    pdf_p = pdf_p.sort_values(["user_id", "ts_us"], kind="mergesort")
    pdf_v = pdf_v.sort_values(["user_id", "v_us"], kind="mergesort")
    p_uid = pdf_p["user_id"].to_numpy(dtype="int64")
    p_us = pdf_p["ts_us"].to_numpy(dtype="int64")
    v_uid = pdf_v["user_id"].to_numpy(dtype="int64")
    v_us = pdf_v["v_us"].to_numpy(dtype="int64")

    all_ts_min = min(p_us.min(), v_us.min() if len(v_us) else p_us.min())
    all_ts_max = max(p_us.max(), v_us.max() if len(v_us) else p_us.max())
    base = all_ts_min
    span = int(all_ts_max - base) + 2
    max_uid = int(max(p_uid.max(), v_uid.max() if len(v_uid) else 0))
    if (max_uid + 1) * span >= 2**62:  # pragma: no cover - int64 headroom gone
        out = [
            align_attribution_windows(gp, pdf_v[pdf_v["user_id"] == uid])
            for uid, gp in pdf_p.groupby("user_id", sort=False)
        ]
        return pd.concat(out, ignore_index=True)

    k_v = v_uid * span + (v_us - base)  # sorted, per-user ranges disjoint
    k_p = p_uid * span + (p_us - base)
    csum = np.concatenate(([0], np.cumsum(pdf_v["cents"].to_numpy(dtype="int64"))))
    hi = np.searchsorted(k_v, k_p, side="left")  # same user, strictly before
    # window start: clamp the delta at 0 so the key never escapes into the
    # PREVIOUS user's range when ts - 1h precedes the batch base
    k_lo = p_uid * span + np.maximum(p_us - WINDOW_US - base, 0)
    lo = np.searchsorted(k_v, k_lo, side="left")
    # the last prior view must belong to the SAME user: mask where hi is at
    # or before the user's own range start
    user_start = np.searchsorted(k_v, p_uid * span, side="left")
    if len(k_v):
        gap = pd.array(p_us - v_us[np.maximum(hi - 1, 0)], dtype="Int64")
    else:
        gap = pd.array([0] * len(p_us), dtype="Int64")
    gap[hi <= user_start] = pd.NA
    return pd.DataFrame(
        {
            "event_id": pdf_p["event_id"].to_numpy(dtype="int64"),
            "user_id": p_uid,
            "ts_us": p_us,
            "n_views_1h": (hi - lo).astype("int64"),
            "sum_view_cents_1h": csum[hi] - csum[lo],
            "last_view_gap_us": gap,
        }
    )


@register(
    "cogroup_attribution_windows",
    """
WITH p AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, epoch_us(ts) AS v_us,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'view'
)
SELECT p.event_id, p.user_id, p.ts_us,
       CAST(COALESCE(w.n, 0) AS BIGINT) AS n_views_1h,
       CAST(COALESCE(w.s, 0) AS BIGINT) AS sum_view_cents_1h,
       lg.gap AS last_view_gap_us
FROM p
LEFT JOIN LATERAL (
  SELECT COUNT(*) AS n, SUM(cents) AS s
  FROM v WHERE v.user_id = p.user_id
    AND v.v_us >= p.ts_us - 3600000000 AND v.v_us < p.ts_us
) w ON TRUE
LEFT JOIN LATERAL (
  SELECT p.ts_us - MAX(v_us) AS gap
  FROM v WHERE v.user_id = p.user_id AND v.v_us < p.ts_us
) lg ON TRUE
""",
)
def cogroup_attribution_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase attribution via ``groupBy().cogroup().applyInPandas`` --
    the two-sided grouped-pandas surface (SURVEY.md section 2.8 family):
    per user, every purchase is aligned against the SORTED view stream
    with vectorized binary search (np.searchsorted) + prefix sums, giving
    trailing-1h view count/value and the gap to the last prior view.

    This is the operator shape for custom per-key stream alignment that
    SQL joins express only as O(purchases x views) lateral rescans: the
    pandas kernel is O((P + V) log V) per bucket.  The cogroup keys on
    ``pmod(user_id, 64)`` BUCKETS, not raw user ids: grouped-pandas
    machinery costs ~4 ms per group (measured -- 1,500 user-keyed groups
    took 6.2 s at sf0.1 independent of shuffle partitions; 64 buckets cut
    it to ~2 s), and the composite-key kernel handles any number of users
    per batch.  At 100 TB the bucket count scales with the cluster, each
    bucket stays executor-memory-bounded (users x their events / 64k
    buckets), and both sides co-shuffle exactly once.  Oracle replays the
    semantics with correlated lateral aggregates at test scale.

    The two sides are loaded as SEPARATE relations on purpose: a
    self-cogroup over ONE shared scan hits a Catalyst
    dedup/column-pruning interplay where any downstream plan that
    narrows the output (count(), an aggregate) silently drops the RIGHT
    side's pass-through ``user_id`` from the pandas input frame
    (KeyError in the kernel; collect() was unaffected, which is why the
    oracle gate alone never caught it).  A second load_table gives the
    right side fresh exprIds and the pruning stays sound —
    tests/test_cogroup.py pins count()/aggregate over this query."""
    ev = load_table(spark, sf_dir, "events")
    ev_v = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.expr("pmod(user_id, 64)").alias("bucket"),
    )
    views = ev_v.where(F.col("event_type") == "view").select(
        "user_id",
        F.unix_micros("ts").alias("v_us"),
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
        F.expr("pmod(user_id, 64)").alias("bucket"),
    )
    return (
        purchases.groupBy("bucket")
        .cogroup(views.groupBy("bucket"))
        .applyInPandas(
            align_attribution_windows,
            "event_id bigint, user_id bigint, ts_us bigint, n_views_1h bigint, "
            "sum_view_cents_1h bigint, last_view_gap_us bigint",
        )
    )


@register(
    "sql_frontend_pipe",
    """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_price_cents,
       CAST(SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_qty_e2
FROM lineitem
WHERE l_shipdate <= DATE '1997-12-31'
GROUP BY l_returnflag, l_linestatus
HAVING COUNT(*) > 0
""",
)
def sql_frontend_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (``|>``, Spark 4): the linear FROM -> WHERE ->
    EXTEND -> AGGREGATE -> WHERE composition users write instead of nested
    subqueries -- proving the frontend parses, plans, and optimizes pipe
    stages identically to the ANSI oracle (Catalyst lowers both to the
    same aggregate; predicate pushdown and partial aggregation still
    apply).  Exact cents arithmetic per registry policy."""
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate <= DATE '1997-12-31'
        |> EXTEND CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS price_cents,
                  CAST(ROUND(l_quantity * 100, 0) AS BIGINT) AS qty_e2
        |> AGGREGATE COUNT(*) AS n_items,
                     SUM(price_cents) AS sum_price_cents,
                     SUM(qty_e2) AS sum_qty_e2
           GROUP BY l_returnflag, l_linestatus
        |> WHERE n_items > 0
        |> SELECT l_returnflag, l_linestatus, n_items, sum_price_cents, sum_qty_e2
        """
    )


_LANGS = ["de", "en", "es", "fr", "zh"]  # testdata generator's fixed lang set


@register(
    "transpose_lang_stats",
    "SELECT 'n_docs' AS key, "
    + ", ".join(f"CAST(COUNT(*) FILTER (WHERE lang = '{lg}') AS BIGINT) AS {lg}" for lg in _LANGS)
    + " FROM documents UNION ALL SELECT 'sum_chars', "
    + ", ".join(f"CAST(SUM(n_chars) FILTER (WHERE lang = '{lg}') AS BIGINT)" for lg in _LANGS)
    + " FROM documents UNION ALL SELECT 'n_sources', "
    + ", ".join(
        f"CAST(COUNT(DISTINCT source) FILTER (WHERE lang = '{lg}') AS BIGINT)" for lg in _LANGS
    )
    + " FROM documents",
)
def transpose_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.transpose`` (Spark 4): a per-language stats table pivoted
    so languages become columns and metrics become rows -- the
    report-orientation flip analysts otherwise hand-roll with unpivot +
    pivot.  transpose() collects the INDEX COLUMN VALUES to the driver to
    name the output columns: bounded by distinct languages (the same
    bounded-collect contract as the codebook/centroid constants), never by
    data volume.  The upstream aggregate is one map-side-combined groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    stats = (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
        .orderBy("lang")
    )
    return stats.transpose()


@register(
    "theta_sketch_set_ops",
    """
WITH p AS (
  SELECT user_id, date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day
  FROM events WHERE event_type = 'purchase'
),
a AS (SELECT DISTINCT user_id FROM p WHERE day < 15),
b AS (SELECT DISTINCT user_id FROM p WHERE day >= 15)
SELECT
  CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS exact_a,
  CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS exact_b,
  CAST((SELECT COUNT(*) FROM (SELECT user_id FROM a UNION SELECT user_id FROM b)) AS BIGINT)
    AS exact_union,
  CAST((SELECT COUNT(*) FROM (SELECT user_id FROM a INTERSECT SELECT user_id FROM b)) AS BIGINT)
    AS exact_inter,
  CAST((SELECT COUNT(*) FROM (SELECT user_id FROM a EXCEPT SELECT user_id FROM b)) AS BIGINT)
    AS exact_diff,
  TRUE AS union_ok, TRUE AS inter_ok, TRUE AS diff_ok
""",
)
def theta_sketch_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta sketches (Apache DataSketches, Spark 4 built-ins) doing set
    ALGEBRA on audiences -- union/intersection/difference cardinality of
    early-month vs late-month purchasers from two pre-aggregated sketches,
    the shape that replaces COUNT(DISTINCT) re-scans when marketing asks
    for arbitrary audience overlaps at 100 TB (sketches are tiny, merge
    associatively, and the raw data is read ONCE).

    Oracle contract (same pattern as approx_distinct_stats): the exact
    set-op cardinalities are computed by both engines and hash-compared;
    the *_ok booleans assert THIS engine's sketch estimates land within 5%
    of its own exact values (theta at lgK=12 is exact below 4096 entries,
    so at test scale the estimates are equal; the bound keeps the query
    honest at any scale).  DuckDB has no theta sketches, so its booleans
    are literal TRUE -- the Spark side is the one under test."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day")
    )
    sk = p.agg(
        F.expr("theta_sketch_agg(CASE WHEN day < 15 THEN user_id END)").alias("sk_a"),
        F.expr("theta_sketch_agg(CASE WHEN day >= 15 THEN user_id END)").alias("sk_b"),
        F.countDistinct(F.expr("CASE WHEN day < 15 THEN user_id END")).alias("exact_a"),
        F.countDistinct(F.expr("CASE WHEN day >= 15 THEN user_id END")).alias("exact_b"),
        F.countDistinct("user_id").alias("exact_union"),
    )
    est = sk.select(
        "exact_a",
        "exact_b",
        "exact_union",
        F.expr("CAST(theta_sketch_estimate(theta_union(sk_a, sk_b)) AS BIGINT)").alias("est_u"),
        F.expr(
            "CAST(theta_sketch_estimate(theta_intersection(sk_a, sk_b)) AS BIGINT)"
        ).alias("est_i"),
        F.expr(
            "CAST(theta_sketch_estimate(theta_difference(sk_a, sk_b)) AS BIGINT)"
        ).alias("est_d"),
    )
    return est.select(
        F.col("exact_a").cast("long").alias("exact_a"),
        F.col("exact_b").cast("long").alias("exact_b"),
        F.col("exact_union").cast("long").alias("exact_union"),
        (F.col("exact_a") + F.col("exact_b") - F.col("exact_union"))
        .cast("long")
        .alias("exact_inter"),
        (F.col("exact_union") - F.col("exact_b")).cast("long").alias("exact_diff"),
        (F.expr("abs(est_u - exact_union) * 100 <= 5 * exact_union")).alias("union_ok"),
        (
            F.expr("abs(est_i - (exact_a + exact_b - exact_union)) * 100"
                   " <= greatest(5 * (exact_a + exact_b - exact_union), 100)")
        ).alias("inter_ok"),
        (
            F.expr("abs(est_d - (exact_union - exact_b)) * 100"
                   " <= greatest(5 * (exact_union - exact_b), 100)")
        ).alias("diff_ok"),
    )


@register(
    "hll_sketch_partitioned_union",
    """
SELECT event_type,
       CAST(COUNT(DISTINCT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))) AS BIGINT)
         AS n_days,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS hll_ok
FROM events GROUP BY event_type
""",
)
def hll_sketch_partitioned_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored-sketch-column production shape: per (event_type, day)
    HLL partials (what an incremental pipeline materializes nightly), then
    `hll_union_agg` merges partials per event_type WITHOUT touching raw
    events again -- distinct-users-over-any-horizon from day-sized sketch
    rows.  Raw data is read once; every further rollup is sketch-sized.

    Oracle contract: n_days and the exact distinct are hash-compared
    across engines; hll_ok asserts the merged estimate lands within 5% of
    exact (HLL lgK=12 has sigma ~1.6%, so 5% is a 3-sigma bound -- data,
    not a skipped check).  DuckDB's boolean is literal TRUE."""
    ev = load_table(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day")
    partials = ev.select("event_type", day, "user_id").groupBy("event_type", "day").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk"),
        F.countDistinct("user_id").alias("day_users"),
    )
    merged = partials.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.expr("CAST(hll_sketch_estimate(hll_union_agg(sk)) AS BIGINT)").alias("est_users"),
    )
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("exact_users"))
    return merged.join(exact, "event_type").select(
        "event_type",
        "n_days",
        F.col("exact_users").cast("long").alias("exact_users"),
        F.expr("abs(est_users - exact_users) * 100 <= 5 * exact_users").alias("hll_ok"),
    )


def arrow_lang_stats(table):
    """applyInArrow kernel: one language's documents as a pyarrow.Table ->
    a single stats row, computed entirely with pyarrow.compute (no pandas
    boxing).  Module-level for direct unit tests (tests/test_udfs.py)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n_chars = table.column("n_chars")
    return pa.table(
        {
            "lang": table.column("lang").slice(0, 1),
            "n_docs": pa.array([table.num_rows], pa.int64()),
            "sum_chars": pa.array([pc.sum(n_chars).as_py() or 0], pa.int64()),
            "max_chars": pa.array([pc.max(n_chars).as_py() or 0], pa.int64()),
            "n_sources": pa.array(
                [pc.count_distinct(table.column("source")).as_py()], pa.int64()
            ),
        }
    )


@register(
    "applyinarrow_lang_stats",
    """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM documents GROUP BY lang
""",
)
def applyinarrow_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``groupBy().applyInArrow`` -- the grouped ARROW surface completing
    the Python-extension matrix (mapInPandas / mapInArrow / applyInPandas /
    cogroup-applyInPandas / applyInArrow): per-language corpus stats
    computed with pyarrow.compute kernels directly on the group's Arrow
    table, no pandas materialization.

    The aggregate itself is SQL-expressible (that's what makes it
    oracle-gateable) -- the query exists to prove the API path: group
    shuffle -> Arrow table per key -> pc.* kernels -> Arrow back.  Real
    users reach applyInArrow when the per-group logic needs Arrow-native
    libraries (tokenizers, zero-copy numpy views) at bounded-cardinality
    keys; high-cardinality keys take the bucketed shape (PLANS.md
    cogroup adjudication)."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "source", "n_chars")
    return docs.groupBy("lang").applyInArrow(
        arrow_lang_stats,
        "lang string, n_docs bigint, sum_chars bigint, max_chars bigint, n_sources bigint",
    )


@register(
    "xml_roundtrip_stats",
    """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(SUM(o_orderkey * o_custkey) AS BIGINT) AS key_checksum
FROM orders WHERE o_orderkey % 10 = 0
GROUP BY o_orderpriority
""",
)
def xml_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round-trip through Spark 4's NATIVE xml source (rowTag
    records): an orders slice written as XML, re-read with a DECLARED
    schema (inference would re-derive types from text), then aggregated --
    the oracle computes the same aggregate from the original parquet, so
    hash parity proves the conversion is lossless.  Monetary values cross
    the text format as pre-computed integer cents, never as decimal text
    (same exactness policy as the registry).  XML is the interchange
    format the enterprise-feed edge still speaks; at 100 TB it is an edge
    codec only -- data lands in parquet immediately (the same role the
    reference gives pretty-printed JSON, src/data_processor.py:36-40)."""
    from odp_dynamic_data_pipeline_spark.queries.core import _stream_tmpdir

    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.expr("o_orderkey % 10 = 0"))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderpriority",
            F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("cents"),
        )
    )
    tmp = _stream_tmpdir("xml_roundtrip")
    orders.write.mode("overwrite").format("xml").option("rootTag", "orders").option(
        "rowTag", "order"
    ).save(f"{tmp}/orders_xml")
    back = (
        spark.read.schema("o_orderkey bigint, o_custkey bigint, o_orderpriority string, cents bigint")
        .format("xml")
        .option("rowTag", "order")
        .load(f"{tmp}/orders_xml")
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("sum_cents"),
        F.sum(F.col("o_orderkey") * F.col("o_custkey")).alias("key_checksum"),
    )


@register(
    "hll_users_stream",
    """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS hll_ok
FROM events GROUP BY event_type
""",
)
def hll_users_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of the stored-sketch shape: `hll_sketch_agg` running
    as a stateful streaming aggregate (events replayed through the file
    stream, Trigger.AvailableNow, complete mode) -- the state store holds
    the serialized sketch buffer per event_type, so distinct-user tracking
    over an unbounded stream needs O(sketch) state, not O(users), and the
    emitted sketch column merges downstream with `hll_union` exactly like
    the batch partials (hll_sketch_partitioned_union).

    Same oracle contract as the batch sketch queries: exact distincts are
    hash-compared across engines; hll_ok asserts the STREAMING estimate
    lands within 5% of exact (lgK=12, 3-sigma)."""
    from odp_dynamic_data_pipeline_spark.queries.core import (
        _replay_stream,
        _stream_shuffle,
        _stream_tmpdir,
    )
    from odp_dynamic_data_pipeline_spark.streaming.stream import run_available_now

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    tmp = _stream_tmpdir("hll_users_stream")
    stream = _replay_stream(spark, ev, tmp)
    agg = stream.groupBy("event_type").agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    with _stream_shuffle(spark):
        run_available_now(
            agg,
            query_name="hll_users_stream_mem",
            checkpoint=f"{tmp}/ckpt",
            output_mode="complete",
        )
    est = spark.table("hll_users_stream_mem").select(
        "event_type",
        F.expr("CAST(hll_sketch_estimate(sk) AS BIGINT)").alias("est_users"),
    )
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("exact_users"))
    return est.join(exact, "event_type").select(
        "event_type",
        F.col("exact_users").cast("long").alias("exact_users"),
        F.expr("abs(est_users - exact_users) * 100 <= 5 * exact_users").alias("hll_ok"),
    )


@register(
    "topk_sketch_tokens",
    r"""
WITH tok AS (SELECT unnest(regexp_extract_all(text, '\S+')) AS token FROM documents),
tf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY token),
rk AS (SELECT token, n,
              CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank
       FROM tf)
SELECT rank, token, n, TRUE AS topk_ok
FROM rk WHERE rank <= 20
""",
)
def topk_sketch_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitters via Spark 4's approx_top_k SKETCH family -- the
    accumulate / combine / estimate decomposition that makes frequent-item
    tracking a stored, mergeable column exactly like the HLL partials:
    per-language partial sketches (what a sharded ingest materializes),
    one `approx_top_k_combine` merge, one estimate -- raw tokens are
    scanned once, every re-ranking downstream is sketch-sized.

    Oracle contract: the exact top-20 (count desc, token tie-break) is
    hash-compared across engines; topk_ok asserts the SKETCH estimate for
    each of those tokens equals its exact count -- strictly true whenever
    the vocabulary fits maxItemsTracked=1024 (Apache DataSketches
    frequent-items is exact below capacity), and a real error detector
    beyond it.  DuckDB has no frequent-items sketch, so its boolean is
    literal TRUE; the Spark side is under test."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    tok = docs.select("lang", F.explode(F.expr(r"regexp_extract_all(text, '\\S+', 0)")).alias("token"))
    partials = tok.groupBy("lang").agg(F.expr("approx_top_k_accumulate(token, 1024)").alias("sk"))
    est = (
        partials.agg(F.expr("approx_top_k_estimate(approx_top_k_combine(sk), 100)").alias("est"))
        .select(F.explode("est").alias("e"))
        .select(F.col("e.item").alias("token"), F.col("e.count").cast("long").alias("est_n"))
    )
    from pyspark.sql import Window

    tf = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    rk = tf.select(
        F.row_number().over(Window.orderBy(F.desc("n"), F.asc("token"))).cast("long").alias("rank"),
        "token",
        "n",
    ).where(F.col("rank") <= 20)
    return rk.join(est, "token", "left").select(
        "rank",
        "token",
        F.col("n").cast("long").alias("n"),
        F.expr("est_n <=> n").alias("topk_ok"),
    )


@register(
    "aes_column_encryption",
    """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS sum_bal_cents,
       TRUE AS roundtrip_ok, TRUE AS gcm_distinct_ok
FROM customer GROUP BY c_mktsegment
""",
)
def aes_column_encryption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption for PII-bearing fields (`aes_encrypt` /
    `aes_decrypt`, JVM-side): customer names encrypted, the pipeline
    aggregates on the NON-sensitive columns, and the sensitive column is
    proven recoverable -- the data-governance shape where a 100 TB lake
    stores ciphertext and only key-holding jobs can re-identify.

    Two asserted-as-data properties: (1) decrypt(encrypt(name)) == name
    for every row under AES-GCM (roundtrip_ok aggregates a per-row
    equality with bool_and); (2) the same plaintext under two DIFFERENT
    explicit IVs yields distinct ciphertexts (gcm_distinct_ok) -- the
    property that makes ciphertext columns unusable as join/group keys
    (deterministic ECB exists for that trade-off, with its leakage).
    Explicit IVs because two syntactically identical random-IV
    aes_encrypt calls get common-subexpression-eliminated by Catalyst
    into ONE ciphertext (measured: the random-IV form returned identical
    bytes) -- and explicit IVs also keep the query deterministic per the
    registry policy.  The oracle replays the aggregate and carries
    literal TRUE: the crypto claims are Spark-side checks that flip the
    hash on failure.  Key handling: a literal here; production injects
    via conf."""
    cust = load_table(spark, sf_dir, "customer")
    key = "0123456789abcdef"  # 128-bit demo key; prod: spark.conf / KMS
    iv1, iv2 = "000000000000000000000001", "000000000000000000000002"
    enc = cust.select(
        "c_mktsegment",
        F.expr("CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)").alias("bal_cents"),
        F.expr(f"aes_encrypt(c_name, '{key}', 'GCM', 'DEFAULT', unhex('{iv1}'))").alias("ct1"),
        F.expr(f"aes_encrypt(c_name, '{key}', 'GCM', 'DEFAULT', unhex('{iv2}'))").alias("ct2"),
        F.col("c_name"),
    )
    checked = enc.select(
        "c_mktsegment",
        "bal_cents",
        (
            F.expr(f"CAST(aes_decrypt(ct1, '{key}', 'GCM') AS STRING)") == F.col("c_name")
        ).alias("rt"),
        (F.col("ct1") != F.col("ct2")).alias("iv_distinct"),
    )
    return checked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("bal_cents").alias("sum_bal_cents"),
        F.bool_and("rt").alias("roundtrip_ok"),
        F.bool_and("iv_distinct").alias("gcm_distinct_ok"),
    )


@register(
    "listagg_segment_rollcall",
    """
WITH top3 AS (
  SELECT c_mktsegment, c_name,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) AS rn
  FROM customer
)
SELECT c_mktsegment,
       string_agg(c_name, ',' ORDER BY c_name) AS first_names,
       CAST(COUNT(*) AS BIGINT) AS n_listed
FROM top3 WHERE rn <= 3
GROUP BY c_mktsegment
""",
)
def listagg_segment_rollcall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``LISTAGG ... WITHIN GROUP (ORDER BY ...)`` (SQL:2016 ordered string
    aggregation, new in Spark 4): the 3 lowest-custkey customer names per
    market segment concatenated in deterministic name order -- the report
    surface analysts otherwise emulate with collect_list + array_sort +
    array_join.  DuckDB replays it as string_agg(... ORDER BY).  The
    aggregation input is pre-limited to 3 rows per segment (window + rn
    filter), so the concatenated string is bounded -- the required shape
    at scale, where an unbounded LISTAGG over a group is an OOM, not a
    report."""
    register_views(spark, sf_dir, ["customer"])
    return spark.sql(
        """
        WITH top3 AS (
          SELECT c_mktsegment, c_name,
                 ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) AS rn
          FROM customer
        )
        SELECT c_mktsegment,
               listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name) AS first_names,
               CAST(COUNT(*) AS BIGINT) AS n_listed
        FROM top3 WHERE rn <= 3
        GROUP BY c_mktsegment
        """
    )


@register(
    "bitmap_distinct_rollup",
    """
SELECT event_type,
       CAST(COUNT(DISTINCT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))) AS BIGINT)
         AS n_days,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
""",
)
def bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct via Spark's positional-bitmap aggregate
    family (`bitmap_bucket_number` / `bitmap_bit_position` /
    `bitmap_construct_agg` / `bitmap_or_agg` / `bitmap_count`): per
    (event_type, day, bucket) partial bitmaps over user ids -- the stored
    partial a nightly job materializes -- OR-merged per event type, then
    popcounted.  The exact twin of the HLL rollup
    (hll_sketch_partitioned_union): same scan-once / merge-forever shape,
    but the answer is EXACT, so Spark's bitmap-path user counts
    hash-compare directly against DuckDB's COUNT(DISTINCT) -- no
    bound-as-data needed.  Cost model: bitmaps are 4 KB per 32k-id bucket
    per group -- exactness is affordable while ids stay dense/bounded;
    HLL takes over when the id space is sparse or unbounded."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
        F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
        F.expr("bitmap_bit_position(user_id)").alias("pos"),
    )
    partials = d.groupBy("event_type", "day", "bkt").agg(
        F.expr("bitmap_construct_agg(pos)").alias("bm")
    )
    merged = partials.groupBy("event_type", "bkt").agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
    users = merged.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n_users")
    )
    # n_days from the partial table directly (NOT max-over-buckets, which
    # undercounts once the id space spans buckets unevenly across days)
    days = partials.groupBy("event_type").agg(F.countDistinct("day").cast("long").alias("n_days"))
    return days.join(users, "event_type").select("event_type", "n_days", "n_users")


@register(
    "attribution_windows_stream",
    """
WITH e AS (SELECT * FROM events WHERE user_id % 3 = 0),
p AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us
  FROM e WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, epoch_us(ts) AS v_us,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM e WHERE event_type = 'view'
)
SELECT p.event_id, p.user_id, p.ts_us,
       CAST(COALESCE(w.n, 0) AS BIGINT) AS n_views_1h,
       CAST(COALESCE(w.s, 0) AS BIGINT) AS sum_view_cents_1h
FROM p
LEFT JOIN LATERAL (
  SELECT COUNT(*) AS n, SUM(cents) AS s
  FROM v WHERE v.user_id = p.user_id
    AND v.v_us >= p.ts_us - 3600000000 AND v.v_us < p.ts_us
) w ON TRUE
""",
)
def attribution_windows_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of the cogroup attribution semantics via CHAINED
    STATEFUL OPERATORS (multiple-stateful support, SPARK-42376): a
    stream-stream interval join (views within [purchase - 1h, purchase))
    feeding a downstream WINDOWED streaming aggregate in the same query --
    per-purchase trailing view count/value, append mode.

    End-of-stream emission: append-mode aggregates only emit when the
    watermark passes a window, and a finite replay's watermark stalls at
    max_event - delay, which would swallow the trailing windows.  Both
    replayed sides therefore carry one far-future SENTINEL row (user -1,
    +10 days) that drives the final watermark past every real window;
    sentinels are filtered from the result.  Zero-view purchases cannot
    exit an INNER streaming join, so the streamed per-purchase stats are
    left-joined back onto the batch purchase list (coalesce 0) -- the
    join+agg chain is the streaming computation under test, the fill is a
    stateless batch decoration.  The last-view-gap column of the batch
    cogroup query is deliberately absent: a gap over unbounded history is
    not watermark-boundable.  Same deterministic user thinning as
    stream_stream_join_pairs keeps pair counts proportional."""
    from odp_dynamic_data_pipeline_spark.queries.core import (
        _replay_stream,
        _stream_shuffle,
        _stream_tmpdir,
    )
    from odp_dynamic_data_pipeline_spark.streaming.stream import run_available_now

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") % 3 == 0)
    horizon = ev.agg(F.max("ts").alias("m")).select(
        F.expr("timestampadd(DAY, 10, m)").alias("flush_ts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts"), F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents")
    )
    p_sent = horizon.select(
        F.lit(-1).cast("long").alias("event_id"),
        F.lit(-1).cast("long").alias("user_id"),
        F.col("flush_ts").alias("ts"),
    )
    v_sent = horizon.select(
        F.lit(-1).cast("long").alias("user_id"),
        F.col("flush_ts").alias("v_ts"),
        F.lit(0).cast("long").alias("cents"),
    )
    tmp = _stream_tmpdir("attr_stream")
    ps = _replay_stream(spark, purchases.unionByName(p_sent), f"{tmp}/p").withWatermark(
        "ts", "1 hour"
    )
    vs = _replay_stream(spark, views.unionByName(v_sent), f"{tmp}/v").withWatermark(
        "v_ts", "1 hour"
    )
    cond = (
        (ps["user_id"] == vs["user_id"])
        & (vs["v_ts"] >= ps["ts"] - F.expr("INTERVAL 1 HOUR"))
        & (vs["v_ts"] < ps["ts"])
    )
    # keep exactly ONE event-time-tagged column through the aggregate: the
    # window derives from ts, while the per-purchase timestamp rides along
    # as an untagged bigint (two tagged columns fail analysis)
    joined = ps.join(vs, cond, "inner").select(
        ps["event_id"],
        ps["user_id"],
        ps["ts"],
        F.unix_micros(ps["ts"]).alias("ts_us"),
        vs["cents"],
    )
    agg = joined.groupBy(
        F.window("ts", "1 hour"), "event_id", "user_id", "ts_us"
    ).agg(
        F.count(F.lit(1)).alias("n_views_1h"),
        F.sum("cents").alias("sum_view_cents_1h"),
    ).select("event_id", "user_id", "ts_us", "n_views_1h", "sum_view_cents_1h")
    with _stream_shuffle(spark):
        run_available_now(
            agg, format="parquet", query_name="", path=f"{tmp}/out", checkpoint=f"{tmp}/ckpt"
        )
    streamed = spark.read.schema(
        "event_id bigint, user_id bigint, ts_us bigint, n_views_1h bigint, sum_view_cents_1h bigint"
    ).parquet(f"{tmp}/out").where(F.col("user_id") >= 0)
    base = purchases.select("event_id", "user_id", F.unix_micros("ts").alias("ts_us"))
    return base.join(
        streamed.select("event_id", "n_views_1h", "sum_view_cents_1h"), "event_id", "left"
    ).select(
        "event_id",
        "user_id",
        "ts_us",
        F.coalesce("n_views_1h", F.lit(0)).cast("long").alias("n_views_1h"),
        F.coalesce("sum_view_cents_1h", F.lit(0)).cast("long").alias("sum_view_cents_1h"),
    )


@register(
    "sql_udf_library",
    """
SELECT l_returnflag,
       CASE WHEN CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100, 0) AS BIGINT) < 100000 THEN 'small'
            WHEN CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100, 0) AS BIGINT) < 4000000 THEN 'mid'
            ELSE 'large' END AS price_band,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100, 0) AS BIGINT)) AS BIGINT) AS sum_net_cents
FROM lineitem
GROUP BY l_returnflag, price_band
""",
)
def sql_udf_library(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative SQL UDFs (``CREATE FUNCTION ... RETURN expr``, Spark 4
    / SQL:2016 PSM-lite): the reference exposes its scalar helpers as a
    Python function library (src/utils.py); the Spark-native equivalent
    for SQL-frontend users is a CREATE FUNCTION library -- named, typed,
    composable (``price_band(net_cents(...))``) -- that Catalyst INLINES
    into the calling plan, so the functions cost nothing at runtime:
    the aggregate below compiles to the same whole-stage-codegen plan as
    the hand-inlined oracle (no UDF call boundary, unlike Python UDFs).
    Exact cents arithmetic per registry policy."""
    register_views(spark, sf_dir, ["lineitem"])
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_cents(price DOUBLE, disc DOUBLE, tax DOUBLE) "
        "RETURNS BIGINT RETURN CAST(ROUND(price * (1 - disc) * (1 + tax) * 100, 0) AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION price_band(cents BIGINT) RETURNS STRING "
        "RETURN CASE WHEN cents < 100000 THEN 'small' "
        "WHEN cents < 4000000 THEN 'mid' ELSE 'large' END"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               price_band(net_cents(l_extendedprice, l_discount, l_tax)) AS price_band,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               SUM(net_cents(l_extendedprice, l_discount, l_tax)) AS sum_net_cents
        FROM lineitem
        GROUP BY l_returnflag, price_band(net_cents(l_extendedprice, l_discount, l_tax))
        """
    )


@register(
    "sql_udtf_month_spine",
    """
WITH bounds AS (
  SELECT date_trunc('month', MIN(o_orderdate)) AS mn,
         date_trunc('month', MAX(o_orderdate)) AS mx
  FROM orders
),
spine AS (
  SELECT CAST(UNNEST(generate_series(mn, mx, INTERVAL 1 MONTH)) AS DATE) AS month_start
  FROM bounds
),
m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
         COUNT(*) AS n_orders,
         SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS revenue_cents
  FROM orders GROUP BY 1
)
SELECT s.month_start,
       CAST(COALESCE(m.n_orders, 0) AS BIGINT) AS n_orders,
       CAST(COALESCE(m.revenue_cents, 0) AS BIGINT) AS revenue_cents
FROM spine s LEFT JOIN m USING (month_start)
""",
)
def sql_udtf_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL TABLE function (``CREATE FUNCTION ... RETURNS TABLE``, Spark 4)
    as the calendar-spine generator for gap-free monthly reporting: the
    spine comes from a named, reusable ``month_spine(start, n)`` UDTF
    invoked via correlated LATERAL against the aggregated date bounds --
    the declarative replacement for driver-side date loops.  The spine is
    O(months) rows from a single-row lateral (never a scan), the monthly
    rollup is one shuffle, and the zero-fill is a broadcast-size left
    join: the gap-filling shape that survives any fact-table scale."""
    register_views(spark, sf_dir, ["orders"])
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION month_spine(start DATE, n INT) "
        "RETURNS TABLE (month_start DATE) "
        "RETURN SELECT explode(transform(sequence(0, n - 1), "
        "i -> add_months(date_trunc('MONTH', start), i))) AS month_start"
    )
    return spark.sql(
        """
        WITH bounds AS (
          SELECT CAST(date_trunc('MONTH', MIN(o_orderdate)) AS DATE) AS mn,
                 CAST((YEAR(MAX(o_orderdate)) - YEAR(MIN(o_orderdate))) * 12
                      + MONTH(MAX(o_orderdate)) - MONTH(MIN(o_orderdate)) + 1 AS INT) AS n_months
          FROM orders
        ),
        spine AS (
          SELECT s.month_start FROM bounds, LATERAL month_spine(bounds.mn, bounds.n_months) s
        ),
        m AS (
          SELECT CAST(date_trunc('MONTH', o_orderdate) AS DATE) AS month_start,
                 CAST(COUNT(*) AS BIGINT) AS n_orders,
                 SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS revenue_cents
          FROM orders GROUP BY 1
        )
        SELECT spine.month_start,
               CAST(COALESCE(m.n_orders, 0) AS BIGINT) AS n_orders,
               CAST(COALESCE(m.revenue_cents, 0) AS BIGINT) AS revenue_cents
        FROM spine LEFT JOIN m USING (month_start)
        """
    )


@register(
    "streaming_state_reader",
    """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY user_id
""",
)
def streaming_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store INTROSPECTION (``spark.read.format('statestore')``,
    Spark 4): run a stateful streaming aggregation over the event file
    stream, then read the operator's PERSISTED STATE back out of the
    checkpoint as a DataFrame and verify it equals the batch aggregate --
    the debugging/ops surface that answers "what does my streaming job
    actually believe right now?" without touching the running query.  At
    scale this reads the HDFS/RocksDB store files directly (one task per
    state partition), never the stream itself; it is how checkpoint
    corruption, skewed state, and watermark bugs get diagnosed in
    production.  The state key/value structs are projected positionally
    (internal field names are engine-private)."""
    from odp_dynamic_data_pipeline_spark.queries.core import (
        _replay_stream,
        _stream_shuffle,
        _stream_tmpdir,
    )
    from odp_dynamic_data_pipeline_spark.streaming.stream import run_available_now

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents")
    )
    tmp = _stream_tmpdir("state_reader")
    stream = _replay_stream(spark, ev, tmp)
    agg = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("cents").alias("sum_cents")
    )
    with _stream_shuffle(spark):
        run_available_now(
            agg,
            format="memory",
            query_name="state_reader_sink",
            checkpoint=f"{tmp}/ckpt",
            output_mode="update",
        )
    state = spark.read.format("statestore").load(f"{tmp}/ckpt")
    key_fields = state.schema["key"].dataType.names
    val_fields = state.schema["value"].dataType.names
    return state.select(
        F.col(f"key.{key_fields[0]}").cast("long").alias("user_id"),
        F.col(f"value.{val_fields[0]}").cast("long").alias("n_events"),
        F.col(f"value.{val_fields[1]}").cast("long").alias("sum_cents"),
    )


_SNM_RANKED_SQL = r"""keyed AS (
  SELECT doc_id,
         substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24) AS blk
  FROM documents
),
ranked AS (
  SELECT doc_id, blk, ROW_NUMBER() OVER (ORDER BY blk, doc_id) AS rn FROM keyed
)"""


@register(
    "sorted_neighborhood_pairs",
    f"""
WITH {_SNM_RANKED_SQL}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(b.rn - a.rn AS BIGINT) AS rank_dist,
       CAST(levenshtein(a.blk, b.blk) AS BIGINT) AS key_lev
FROM ranked a JOIN ranked b ON b.rn - a.rn BETWEEN 1 AND 4
WHERE levenshtein(a.blk, b.blk) <= 8
""",
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-Neighborhood Method blocking (Hernandez & Stolfo, SIGMOD
    1995): sort the corpus by a normalized blocking key, slide a window
    of w=5, and emit only in-window pairs for the expensive verify step
    (edit distance here) -- the O(n*w) entity-resolution alternative to
    LSH when near-dups share PREFIXES rather than shingle sets.

    Scale shape: the global sort rank comes from operators.partitioning.
    global_rank (range-partition + driver prefix sums -- no single-task
    global window), and the window itself is an EQUI-join: each row
    explodes w-1 probe ranks (rn+1..rn+4) that hash-join against the
    rank column, instead of the rn BETWEEN range join every SQL
    formulation writes (a range join at 100 TB either falls back to
    broadcast-nested-loop or needs a specialized range partitioner; the
    explode costs a flat 4x on a slim (rank, id, key) projection).
    Levenshtein runs on the bounded 24-char keys, never full documents."""
    return _snm_pairs(load_table(spark, sf_dir, "documents"), max_lev=8)


def _snm_pairs(docs: DataFrame, *, max_lev: int, w: int = 5) -> DataFrame:
    """SNM candidate pairs (id_a, id_b, rank_dist, key_lev) with
    key_lev <= max_lev -- shared by the pair report and the end-to-end
    ER survivorship query."""
    from odp_dynamic_data_pipeline_spark.operators.partitioning import global_rank

    keyed = docs.select(
        "doc_id",
        F.expr(
            "substr(regexp_replace(lower(text), '[^a-z0-9]', ''), 1, 24)"
        ).alias("blk"),
    )
    ranked = global_rank(keyed, ["blk", "doc_id"], rank_col="rn")
    probes = ranked.select(
        F.col("doc_id").alias("id_a"),
        F.col("blk").alias("blk_a"),
        F.col("rn").alias("rn_a"),
        F.explode(F.expr(f"sequence(rn + 1, rn + {w - 1})")).alias("rn"),
    )
    return (
        probes.join(
            ranked.select(
                F.col("doc_id").alias("id_b"), F.col("blk").alias("blk_b"), "rn"
            ),
            "rn",
        )
        .where(F.levenshtein("blk_a", "blk_b") <= max_lev)
        .select(
            "id_a",
            "id_b",
            (F.col("rn") - F.col("rn_a")).cast("long").alias("rank_dist"),
            F.levenshtein("blk_a", "blk_b").cast("long").alias("key_lev"),
        )
    )


@register(
    "er_survivorship",
    f"""
WITH RECURSIVE {_SNM_RANKED_SQL},
edges AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ranked a JOIN ranked b ON b.rn - a.rn BETWEEN 1 AND 4
  WHERE levenshtein(a.blk, b.blk) <= 4
),
sym AS (SELECT id_a AS s, id_b AS d FROM edges
        UNION ALL SELECT id_b, id_a FROM edges),
cc AS (
  SELECT doc_id AS nid, doc_id AS comp FROM documents
  UNION
  SELECT s.d, cc.comp FROM cc JOIN sym s ON s.s = cc.nid
),
lab AS (SELECT nid AS doc_id, MIN(comp) AS comp FROM cc GROUP BY nid),
m AS (
  SELECT l.comp, d.doc_id, d.n_chars, d.lang
  FROM lab l JOIN documents d USING (doc_id)
),
keep AS (
  SELECT comp, doc_id AS keeper FROM (
    SELECT comp, doc_id,
           ROW_NUMBER() OVER (PARTITION BY comp ORDER BY n_chars DESC, doc_id) AS rn
    FROM m
  ) WHERE rn = 1
)
SELECT m.comp AS component, k.keeper AS keeper_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(m.n_chars) AS BIGINT) AS sum_chars,
       CAST(COUNT(DISTINCT m.lang) AS BIGINT) AS n_langs
FROM m JOIN keep k USING (comp)
GROUP BY m.comp, k.keeper
""",
)
def er_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END entity resolution: SNM blocking (shared _snm_pairs,
    tighter match threshold lev <= 4) -> match edges -> transitive
    closure via min-label connected components -> SURVIVORSHIP election
    (the golden record: longest document wins its cluster, doc_id
    tiebreak) -- the block/match/cluster/elect pipeline every MDM and
    dedup-curation system runs, composed entirely from operators already
    proven individually (global_rank spine, exploded-window equi-join,
    connected_components, partitioned window election).  Every stage is
    one shuffle on slim keys; the election window partitions by
    component, never globally.  Singleton documents remain their own
    golden record, so the output is a full partition of the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    edges = _snm_pairs(docs, max_lev=4).select("id_a", "id_b")
    labels = dd.connected_components(
        docs.select("doc_id"), edges, id_col="doc_id"
    ).select("doc_id", F.col("component").alias("comp"))
    m = labels.join(docs.select("doc_id", "n_chars", "lang"), "doc_id")
    from pyspark.sql import Window

    wk = Window.partitionBy("comp").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    keep = (
        m.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") == 1)
        .select("comp", F.col("doc_id").alias("keeper"))
    )
    return (
        m.join(keep, "comp")
        .groupBy(F.col("comp").alias("component"), F.col("keeper").alias("keeper_doc_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
    )


@register(
    "fuzzy_join_suppliers",
    """
SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
       a.s_name AS name_a, b.s_name AS name_b,
       CAST(levenshtein(a.s_name, b.s_name) AS INTEGER) AS dist
FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 1
""",
)
def fuzzy_join_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT edit-distance self-join on supplier names via FastSS
    deletion-neighborhood blocking (operators.dedup.edit_distance_join):
    candidates from an equi-join on <=1-deletion variants of DISTINCT
    strings, verified with exact levenshtein, expanded back through the
    (string -> id) map -- the character-level fuzzy-match sibling of the
    set-similarity jaccard_prefix_join, and the approximate-key extension
    of the reference's exact enrichment joins
    (src/data_processor.py:120-141).  The DuckDB oracle IS the brute-force
    all-pairs join, so the hash gate proves the blocked plan loses no
    pair."""
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return dd.edit_distance_join(
        sup, id_col="s_suppkey", str_col="s_name", max_dist=1
    )


@register(
    "pyds_stream_ingest",
    """
WITH ids AS (SELECT UNNEST(generate_series(0, 199)) AS doc_id),
d AS (
  SELECT doc_id,
         5 + ('0x' || substr(md5('len|' || doc_id), 1, 15))::BIGINT % 20 AS n_tok
  FROM ids
),
t AS (
  SELECT doc_id, n_tok,
         array_to_string(list_transform(range(0, CAST(n_tok AS INT)),
           j -> 't' || (('0x' || substr(md5('tok|' || doc_id || '|' || j), 1, 15))::BIGINT % 1000)),
           ' ') AS text
  FROM d
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens, md5(text) AS text_md5 FROM t
""",
)
def pyds_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Python DataSource (Spark 4 ``DataSourceStreamReader``):
    the synthetic-corpus source read as an UNBOUNDED stream -- pure-Python
    offset management (initialOffset / latestOffset / commit on the
    driver, partition-parallel range reads on executors) driven through
    an AvailableNow catch-up into a parquet sink, with the checkpoint
    holding the committed offset for exactly-once restart.  The batch
    and stream readers share one row generator, so the SAME md5-replay
    oracle that gates the batch source (pyds_synthetic_corpus) gates the
    full stream path: source -> micro-batch -> sink -> rescan.
    Incremental multi-batch progression + commit callbacks are pinned by
    tests/test_pyds_stream.py."""
    from odp_dynamic_data_pipeline_spark.queries.core import (
        _stream_shuffle,
        _stream_tmpdir,
    )
    from odp_dynamic_data_pipeline_spark.sources.pyds import register_python_sources
    from odp_dynamic_data_pipeline_spark.streaming.stream import run_available_now

    register_python_sources(spark)
    tmp = _stream_tmpdir("pyds_stream")
    stream = (
        spark.readStream.format("synthetic_corpus")
        .option("n_docs", 200)
        .option("partitions", 8)
        .load()
    )
    out = stream.select(
        "doc_id",
        F.expr("size(split(text, ' '))").cast("long").alias("n_tokens"),
        F.md5("text").alias("text_md5"),
    )
    with _stream_shuffle(spark):
        run_available_now(
            out,
            format="parquet",
            query_name="",
            path=f"{tmp}/out",
            checkpoint=f"{tmp}/ckpt",
        )
    return spark.read.schema("doc_id bigint, n_tokens bigint, text_md5 string").parquet(
        f"{tmp}/out"
    )


@register(
    "geo_cell_neighbor_join",
    """
WITH pts AS (
  SELECT c_custkey AS id,
         ('0x' || substr(md5('lat|' || c_custkey), 1, 15))::BIGINT % 180000000 AS lat,
         ('0x' || substr(md5('lon|' || c_custkey), 1, 15))::BIGINT % 360000000 AS lon
  FROM customer
),
cells AS (
  SELECT id, lat, lon, lat // 1000000 AS cx, lon // 1000000 AS cy FROM pts
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST((a.lat - b.lat) * (a.lat - b.lat)
          + (a.lon - b.lon) * (a.lon - b.lon) AS BIGINT) AS dist2,
       CAST(a.cx = b.cx AND a.cy = b.cy AS BOOLEAN) AS same_cell
FROM cells a
JOIN cells b
  ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
 AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
 AND a.id < b.id
WHERE (a.lat - b.lat) * (a.lat - b.lat) + (a.lon - b.lon) * (a.lon - b.lon)
      <= 1000000000000
""",
)
def geo_cell_neighbor_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius self-join by GRID-CELL BLOCKING: bucket points into
    cells the size of the search radius, probe each point against its
    3x3 cell neighborhood via an EQUI-join on the cell key, then apply
    the exact distance filter -- the standard O(n * density) shape that
    replaces the quadratic distance cross-join (and the range join every
    naive SQL spatial query plans into, which Spark executes as
    broadcast-nested-loop).  Each unordered pair is found exactly once:
    the probe side explodes 9 candidate cells, the build side stays on
    its home cell, and id_a < id_b keeps one orientation.

    Coordinates are md5-derived integer microdegrees on [0, 180e6) x
    [0, 360e6) (non-negative, so DIV == floor-div on both engines;
    planar integer distance, no trig -- engine-exact).  A production
    geo join adds the cos(lat) lon scaling and antimeridian wrap to the
    SAME plan shape; blocking and cost are unchanged."""
    pts = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.expr(
            "CAST(conv(substr(md5(concat('lat|', c_custkey)), 1, 15), 16, 10) AS BIGINT)"
            " % 180000000"
        ).alias("lat"),
        F.expr(
            "CAST(conv(substr(md5(concat('lon|', c_custkey)), 1, 15), 16, 10) AS BIGINT)"
            " % 360000000"
        ).alias("lon"),
    )
    cells = pts.select(
        "id", "lat", "lon",
        F.expr("lat DIV 1000000").alias("cx"),
        F.expr("lon DIV 1000000").alias("cy"),
    )
    probes = cells.select(
        F.col("id").alias("id_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dx ->"
                " transform(sequence(-1, 1), dy -> struct(cx + dx AS cx, cy + dy AS cy))))"
            )
        ).alias("c"),
    ).select("id_a", "lat_a", "lon_a", "c.cx", "c.cy")
    home = cells.select(
        F.col("id").alias("id_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        "cx",
        "cy",
    )
    d2 = (F.col("lat_a") - F.col("lat_b")) * (F.col("lat_a") - F.col("lat_b")) + (
        F.col("lon_a") - F.col("lon_b")
    ) * (F.col("lon_a") - F.col("lon_b"))
    return (
        probes.join(home, ["cx", "cy"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(d2 <= F.lit(1_000_000_000_000))
        .select(
            "id_a",
            "id_b",
            d2.cast("long").alias("dist2"),
            (
                (F.expr("lat_a DIV 1000000") == F.col("cx"))
                & (F.expr("lon_a DIV 1000000") == F.col("cy"))
            ).alias("same_cell"),
        )
    )


@register(
    "sequential_pattern_support",
    """
WITH occ AS (
  SELECT user_id, event_type,
         MIN(ts) AS first_ts, MAX(ts) AS last_ts, COUNT(*) AS n
  FROM events GROUP BY user_id, event_type
),
seq AS (
  SELECT a.event_type AS ante, b.event_type AS cons, COUNT(*) AS n_users_seq
  FROM occ a JOIN occ b ON a.user_id = b.user_id
  WHERE (a.event_type <> b.event_type AND a.first_ts < b.last_ts)
     OR (a.event_type = b.event_type AND a.n >= 2)
  GROUP BY a.event_type, b.event_type
),
sup AS (SELECT event_type, COUNT(*) AS n_users FROM occ GROUP BY event_type)
SELECT s.ante, s.cons, CAST(s.n_users_seq AS BIGINT) AS n_users_seq,
       CAST(sa.n_users AS BIGINT) AS n_users_ante,
       CAST(sb.n_users AS BIGINT) AS n_users_cons,
       CAST((1000000 * s.n_users_seq) // sa.n_users AS BIGINT) AS confidence_e6
FROM seq s JOIN sup sa ON sa.event_type = s.ante
           JOIN sup sb ON sb.event_type = s.cons
WHERE s.n_users_seq >= 2
""",
)
def sequential_pattern_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-2 sequential pattern mining (the GSP/PrefixSpan support
    core): for event types (a, b), in how many user timelines does an
    ``a`` PRECEDE a ``b`` -- gaps allowed, unlike the contiguous-bigram
    transition matrix.  The existence test collapses to order statistics:
    "some a before some b" iff first(a) < last(b) (for a = b: the type
    occurs twice), so each user contributes ONE (user, type) row with
    min/max timestamps and the pattern join is T^2-bounded per user
    (T = 5 types here; never the raw event quadratic).  One shuffle to
    (user, type), then joins on user_id between tiny per-user sets --
    the shape that holds when a user has a million events.  Confidence
    in exact integer ppm against the antecedent's user support."""
    ev = load_table(spark, sf_dir, "events")
    occ = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n"),
    )
    a = occ.select(
        "user_id", F.col("event_type").alias("ante"),
        F.col("first_ts").alias("a_first"), F.col("n").alias("a_n"),
    )
    b = occ.select(
        "user_id", F.col("event_type").alias("cons"),
        F.col("last_ts").alias("b_last"),
    )
    seq = (
        a.join(b, "user_id")
        .where(
            ((F.col("ante") != F.col("cons")) & (F.col("a_first") < F.col("b_last")))
            | ((F.col("ante") == F.col("cons")) & (F.col("a_n") >= 2))
        )
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).alias("n_users_seq"))
        .where(F.col("n_users_seq") >= 2)
    )
    sup = occ.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    return (
        seq.join(sup.select(F.col("event_type").alias("ante"), F.col("n_users").alias("n_users_ante")), "ante")
        .join(sup.select(F.col("event_type").alias("cons"), F.col("n_users").alias("n_users_cons")), "cons")
        .select(
            "ante",
            "cons",
            F.col("n_users_seq").cast("long").alias("n_users_seq"),
            F.col("n_users_ante").cast("long").alias("n_users_ante"),
            F.col("n_users_cons").cast("long").alias("n_users_cons"),
            F.expr("(1000000 * n_users_seq) div n_users_ante").cast("long").alias("confidence_e6"),
        )
    )


@register(
    "csv_quarantine_roundtrip",
    """
WITH src AS (
  SELECT COUNT(*) AS n_good,
         SUM(event_id) AS id_checksum,
         COUNT(DISTINCT user_id) AS n_users,
         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS sum_cents,
         COUNT(DISTINCT event_type) AS n_types
  FROM events
)
SELECT CAST(n_good AS BIGINT) AS n_good,
       CAST(3 AS BIGINT) AS n_corrupt,
       CAST(id_checksum AS BIGINT) AS id_checksum,
       CAST(n_users AS BIGINT) AS n_users,
       CAST(sum_cents AS BIGINT) AS sum_cents,
       CAST(n_types AS BIGINT) AS n_types
FROM src
""",
)
def csv_quarantine_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingestion with PERMISSIVE corrupt-record quarantine: events are
    serialized to CSV lines (engine-controlled concat -- no quoting
    ambiguity), three malformed lines are injected (missing column, non-
    numeric id, trailing garbage column), and the read declares a schema
    plus ``columnNameOfCorruptRecord`` so bad lines land in the quarantine
    column instead of killing the scan (PERMISSIVE) or silently vanishing
    (DROPMALFORMED).  The report proves the quarantine: every good row
    survives with exact values, every bad line is counted, nothing is
    dropped.  This is the reference's malformed-input posture (its JSON
    parser wraps per-record try/except) at CSV scan scale: schema
    DECLARED (inference over 100 TB means reading everything twice),
    corrupt rows quarantined for offline triage.

    CAVEAT THIS QUERY PINS: CSV malformed-row detection happens only on
    the columns the parser actually parses, and column pruning
    (spark.sql.csv.parser.columnPruning.enabled, default true) prunes to
    the columns the plan references -- a report reading a SUBSET of
    columns can silently accept rows whose corruption lives in pruned
    columns (a short row loses its flag, a bad token in an unread field
    never converts).  The report therefore references EVERY data column
    (id checksum, user count), which forces full-row parsing; the
    registered oracle fails if any injected bad line leaks into the good
    set."""
    from odp_dynamic_data_pipeline_spark.queries.core import _stream_tmpdir

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
        "event_type",
    )
    lines = ev.select(
        F.concat_ws(",", "event_id", "user_id", "cents", "event_type").alias("value")
    )
    from odp_dynamic_data_pipeline_spark.functions.localrel import local_relation

    bad = local_relation(
        spark, [("1,2,3",), ("notanum,5,10,click",), ("9,9,9,view,EXTRA",)], "value string"
    )
    tmp = _stream_tmpdir("csv_quarantine")
    lines.unionByName(bad).write.mode("overwrite").text(f"{tmp}/csv")
    parsed = (
        spark.read.schema(
            "event_id bigint, user_id bigint, cents bigint, event_type string, _bad string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(f"{tmp}/csv")
    )
    return parsed.agg(
        F.sum(F.when(F.col("_bad").isNull(), 1).otherwise(0)).cast("long").alias("n_good"),
        F.sum(F.when(F.col("_bad").isNotNull(), 1).otherwise(0)).cast("long").alias("n_corrupt"),
        F.sum(F.when(F.col("_bad").isNull(), F.col("event_id"))).cast("long").alias("id_checksum"),
        F.expr("count(DISTINCT CASE WHEN _bad IS NULL THEN user_id END)")
        .cast("long")
        .alias("n_users"),
        F.sum(F.when(F.col("_bad").isNull(), F.col("cents"))).cast("long").alias("sum_cents"),
        F.expr("count(DISTINCT CASE WHEN _bad IS NULL THEN event_type END)")
        .cast("long")
        .alias("n_types"),
    )


@register(
    "ks_test_value_drift",
    """
WITH vals AS (
  SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS cents, event_type
  FROM events WHERE event_type IN ('purchase', 'view')
),
g AS (
  SELECT cents,
         COUNT(*) FILTER (WHERE event_type = 'purchase') AS c_a,
         COUNT(*) FILTER (WHERE event_type = 'view') AS c_b
  FROM vals GROUP BY cents
),
cum AS (
  SELECT cents,
         SUM(c_a) OVER (ORDER BY cents) AS ca,
         SUM(c_b) OVER (ORDER BY cents) AS cb
  FROM g
),
t AS (SELECT SUM(c_a) AS na, SUM(c_b) AS nb, COUNT(*) AS n_support FROM g),
d AS (
  SELECT cents, ABS(CAST(ca AS HUGEINT) * t.nb - CAST(cb AS HUGEINT) * t.na) AS diff
  FROM cum, t
),
m AS (SELECT MAX(diff) AS dmax FROM d)
SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
       CAST(t.n_support AS BIGINT) AS n_support,
       CAST((1000000 * m.dmax) // (CAST(t.na AS HUGEINT) * t.nb) AS BIGINT) AS d_stat_e6,
       CAST((SELECT MIN(cents) FROM d WHERE d.diff = m.dmax) AS BIGINT) AS at_cents
FROM t, m
""",
)
def ks_test_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic between the purchase
    and view value distributions -- the full-distribution drift test that
    catches shape changes (bimodality, tail shifts) the centroid-drift
    report (embedding_split_drift) cannot.  D = max |F_a(x) - F_b(x)|
    evaluated at every pooled support point, held as the exact rational
    |ca*nb - cb*na| / (na*nb) in DECIMAL(38,0) (ppm only at the very
    end), so both engines agree bit-for-bit.

    Scale shape: the empirical CDFs need a GLOBAL running sum over the
    sorted support -- operators.partitioning.global_prefix_sum
    (range-partition + driver prefix sums, the global_rank pattern), not
    a single-task empty-PARTITION-BY window.  Support is first collapsed
    to distinct values with per-value counts (one shuffle), so the
    prefix-sum input is |support|, not |events|; totals ride a broadcast
    single-row cross join."""
    from odp_dynamic_data_pipeline_spark.operators.partitioning import (
        global_prefix_sum,
    )

    vals = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
            "event_type",
        )
    )
    g = vals.groupBy("cents").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("c_b"),
    )
    cum = global_prefix_sum(g, ["cents"], ["c_a", "c_b"])
    t = g.agg(
        F.sum("c_a").cast("long").alias("na"),
        F.sum("c_b").cast("long").alias("nb"),
        F.count(F.lit(1)).cast("long").alias("n_support"),
    )
    d = cum.crossJoin(F.broadcast(t)).select(
        "cents",
        "na",
        "nb",
        "n_support",
        F.expr(
            "abs(CAST(c_a_cum AS DECIMAL(38,0)) * nb - CAST(c_b_cum AS DECIMAL(38,0)) * na)"
        ).alias("diff"),
    )
    m = d.agg(F.max("diff").alias("dmax"))
    return (
        d.crossJoin(F.broadcast(m))
        .where(F.col("diff") == F.col("dmax"))
        .agg(
            F.first("na").alias("n_a"),
            F.first("nb").alias("n_b"),
            F.first("n_support").alias("n_support"),
            F.expr(
                "CAST((1000000 * first(dmax)) div (CAST(first(na) AS DECIMAL(38,0)) * first(nb)) AS BIGINT)"
            ).alias("d_stat_e6"),
            F.min("cents").cast("long").alias("at_cents"),
        )
    )


@register(
    "cusum_changepoints",
    """
WITH h AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
),
t AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS n_hours FROM h),
p AS (
  SELECT hour_epoch, n_events,
         n_events * t.n_hours - t.total AS dev,
         SUM(n_events * t.n_hours - t.total) OVER (ORDER BY hour_epoch) AS p_cum
  FROM h, t
)
SELECT hour_epoch, n_events, CAST(dev AS BIGINT) AS dev,
       CAST(p_cum AS BIGINT) AS p_cum,
       CAST(p_cum - MIN(p_cum) OVER (ORDER BY hour_epoch) AS BIGINT) AS cusum_pos,
       CAST(MAX(p_cum) OVER (ORDER BY hour_epoch) - p_cum AS BIGINT) AS cusum_neg
FROM p
""",
)
def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint statistics over the hourly event-rate series:
    the classic page-test recursions S+_t = max(0, S+_{t-1} + dev_t) /
    S-_t collapse to WINDOW algebra -- S+_t = P_t - min_{i<=t} P_i and
    S-_t = max_{i<=t} P_i - P_t, where P is the prefix sum of deviations
    -- so the sequential definition becomes a declarative plan with no
    recursion.  Deviations are exact integers: scaling by n_hours
    (dev = n*H - T) avoids the fractional mean entirely, so both engines
    agree bit-for-bit.

    Scale shape: the windows are GLOBAL but run over the PRE-AGGREGATED
    calendar-hour series (720 rows/month; bounded by the time horizon,
    never the event count) -- the raw scan collapses to hourly counts in
    one shuffle first.  This is the audit's bounded-global-window class,
    whitelisted with that rationale."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    t = h.agg(
        F.sum("n_events").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_hours"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("hour_epoch").rowsBetween(Window.unboundedPreceding, 0)
    p = (
        h.crossJoin(F.broadcast(t))
        .withColumn("dev", F.col("n_events") * F.col("n_hours") - F.col("total"))
        .withColumn("p_cum", F.sum("dev").over(w))
    )
    return p.select(
        "hour_epoch",
        "n_events",
        F.col("dev").cast("long").alias("dev"),
        F.col("p_cum").cast("long").alias("p_cum"),
        (F.col("p_cum") - F.min("p_cum").over(w)).cast("long").alias("cusum_pos"),
        (F.max("p_cum").over(w) - F.col("p_cum")).cast("long").alias("cusum_neg"),
    )


@register(
    "bucketed_join_revenue",
    """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""",
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKETED co-located join (sources.writers.write_bucketed_table):
    fact and dimension are written bucketed on the join key with the same
    bucket count, so the sort-merge join consumes bucket files directly
    -- ZERO exchange on either join side (the only shuffle left is the
    final 5-group aggregate).  This is THE big-fact-join answer at
    100 TB: the shuffle is paid once at WRITE time and amortized over
    every downstream join on that key; tests/test_bucketing.py and a
    plan-shape test pin the no-exchange property.  The merge hint forces
    SMJ over a broadcast so the bucket path is what executes even at
    test scale (at real scale neither side broadcasts anyway)."""
    from odp_dynamic_data_pipeline_spark.sources.writers import write_bucketed_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)").alias("price_cents"),
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    write_bucketed_table(li, "odp_li_bkt", "l_orderkey", num_buckets=8)
    write_bucketed_table(o, "odp_ord_bkt", "o_orderkey", num_buckets=8)
    lb = spark.table("odp_li_bkt").hint("merge")
    ob = spark.table("odp_ord_bkt")
    return (
        lb.join(ob, lb["l_orderkey"] == ob["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("price_cents").cast("long").alias("revenue_cents"),
        )
    )


@register(
    "dynamic_partition_overwrite",
    """
WITH final AS (
  SELECT event_type, event_id, CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events
  WHERE event_type <> 'click'
  UNION ALL
  SELECT event_type, event_id, CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events
  WHERE event_type = 'click' AND event_id % 2 = 0
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM final GROUP BY event_type
""",
)
def dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition overwrite (partitionOverwriteMode=dynamic as a
    per-WRITE option, not a session conf): the second write replaces ONLY
    the partitions it touches ('click', rewritten with even event_ids)
    and must leave every other partition's files from the first write
    intact -- the idempotent-backfill primitive of every partitioned
    lake: re-running one hour/source/type never clobbers its neighbors.
    STATIC overwrite (the default) would have dropped the other four
    partitions here; the oracle fails if it does.  Partition count stays
    bounded (one directory per event_type), and the readback proves the
    final state against a pure-SQL model of \"full load, then replace one
    partition\"."""
    from odp_dynamic_data_pipeline_spark.queries.core import _stream_tmpdir

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    tmp = _stream_tmpdir("dyn_overwrite")
    path = f"{tmp}/by_type"
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    ev.where((F.col("event_type") == "click") & (F.col("event_id") % 2 == 0)).write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "dynamic").partitionBy("event_type").parquet(path)
    back = spark.read.schema("event_id bigint, cents bigint, event_type string").parquet(
        path
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


def _mrl_rank_sql(vec_expr: str, alias: str) -> str:
    """One ranking leg of the Matryoshka oracle: exact top-5 cosine over
    ``vec_expr`` (full or prefix-truncated embedding), micro-unit
    quantized -- the same structure as EMB_TOPK_ORACLE."""
    return f"""{alias}_e AS (
  SELECT vec_id, list_transform({vec_expr}, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS q
  FROM embeddings
),
{alias}_norms AS (
  SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS nrm
  FROM (SELECT vec_id, UNNEST(q) AS v FROM {alias}_e) GROUP BY vec_id
),
{alias}_pairs AS (
  SELECT qe.vec_id AS qid, ce.vec_id AS cand_id, UNNEST(qe.q) AS qv, UNNEST(ce.q) AS cv
  FROM {alias}_e qe, {alias}_e ce
  WHERE qe.vec_id < 10 AND ce.vec_id <> qe.vec_id
),
{alias}_dots AS (
  SELECT qid, cand_id, CAST(SUM(qv * cv) AS BIGINT) AS dot
  FROM {alias}_pairs GROUP BY qid, cand_id
),
{alias}_top AS (
  SELECT qid, cand_id FROM (
    SELECT d.qid, d.cand_id,
           ROW_NUMBER() OVER (PARTITION BY d.qid ORDER BY
             CAST(d.dot AS DOUBLE) / sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) DESC,
             d.cand_id) AS rank
    FROM {alias}_dots d
    JOIN {alias}_norms nq ON nq.vec_id = d.qid
    JOIN {alias}_norms nc ON nc.vec_id = d.cand_id
  ) WHERE rank <= 5
)"""


@register(
    "matryoshka_overlap_report",
    f"""
WITH {_mrl_rank_sql('embedding', 'f')},
{_mrl_rank_sql('list_slice(embedding, 1, 16)', 't')},
qs AS (SELECT DISTINCT qid FROM f_top)
SELECT qs.qid,
       CAST(COALESCE(o.n, 0) AS BIGINT) AS n_overlap,
       CAST(5 AS BIGINT) AS k
FROM qs LEFT JOIN (
  SELECT f.qid, COUNT(*) AS n
  FROM f_top f JOIN t_top t ON f.qid = t.qid AND f.cand_id = t.cand_id
  GROUP BY f.qid
) o ON o.qid = qs.qid
""",
)
def matryoshka_overlap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation quality audit (Kusupati et al., NeurIPS
    2022): how much of each query's exact top-5 neighborhood survives
    when embeddings are truncated to their 16-dim PREFIX -- the
    measurement that decides whether a deployment can serve the 4x
    cheaper prefix index and re-rank with full vectors.  Both rankings
    are exact brute-force cosine over micro-unit integers (the
    cosine_topk operator; cosines are identical IEEE doubles from
    identical integers on both engines, so ranks hash-match), and the
    overlap join runs on the two k-bounded top lists, never the
    candidate sets."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qs = emb.where(F.col("vec_id") < 10)
    full = sim.cosine_topk(emb, qs, k=5).select("qid", "cand_id")
    emb16 = emb.select("vec_id", F.expr("slice(embedding, 1, 16)").alias("embedding"))
    qs16 = emb16.where(F.col("vec_id") < 10)
    trunc = sim.cosine_topk(emb16, qs16, k=5).select("qid", "cand_id")
    overlap = (
        full.join(trunc, ["qid", "cand_id"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        full.select("qid")
        .distinct()
        .join(overlap, "qid", "left")
        .select(
            "qid",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_overlap"),
            F.lit(5).cast("long").alias("k"),
        )
    )


@register(
    "observed_quality_metrics",
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN LENGTH(text) >= 100 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_len,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc,
       CAST(SUM(CASE WHEN LENGTH(text) >= 100 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_written
FROM documents
""",
)
def observed_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass pipeline instrumentation via the Observation API
    (``df.observe`` -> CollectMetrics): corpus-level quality metrics --
    input rows, quality-gate pass count, total characters, id range --
    are accumulated per-partition DURING the filtered parquet write and
    merged on the driver, so the 100 TB scan is paid ONCE for both the
    data product and its audit row.  The naive alternative (separate
    count/sum jobs before the write) re-reads the corpus per metric.
    The returned row also includes ``n_written`` counted from a READBACK
    of the written files: the oracle equates it with the observed
    ``n_kept``, so the metrics provably describe the same pass that
    produced the output (a drift would hash-mismatch).  Mirrors the
    reference's per-run record-count logging (src/data_processor.py
    processed-entry accounting) as one declarative plan."""
    from pyspark.sql import Observation

    from odp_dynamic_data_pipeline_spark.queries.core import _stream_tmpdir

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    obs = Observation("corpus_quality")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.length("text") >= 100, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.length("text")).alias("sum_len"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
    tmp = _stream_tmpdir("observed_write")
    out = f"{tmp}/kept"
    observed.where(F.length("text") >= 100).write.mode("overwrite").parquet(out)
    m = obs.get
    n_written = spark.read.parquet(out).count()
    return spark.range(1).select(
        F.lit(m["n_rows"]).cast("long").alias("n_rows"),
        F.lit(m["n_kept"]).cast("long").alias("n_kept"),
        F.lit(m["sum_len"]).cast("long").alias("sum_len"),
        F.lit(m["min_doc"]).cast("long").alias("min_doc"),
        F.lit(m["max_doc"]).cast("long").alias("max_doc"),
        F.lit(n_written).cast("long").alias("n_written"),
    )


@register(
    "schema_evolution_read",
    """
WITH v1 AS (
  SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
         CAST(NULL AS BIGINT) AS user_id
  FROM events WHERE event_id % 2 = 0
),
v2 AS (
  SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS cents, user_id
  FROM events WHERE event_id % 2 = 1
),
u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(COUNT(user_id) AS BIGINT) AS n_with_user
FROM u GROUP BY event_type
""",
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution on a parquet lake: an old writer's files
    (event_type, cents) and a new writer's files (+ user_id) land in the
    SAME directory, and a ``mergeSchema=true`` read unions the footers --
    old rows surface NULL for the added column, so COUNT(user_id) counts
    exactly the post-migration rows.  This is the only sane contract at
    100 TB: columns are ADDED, never retyped, and readers never require a
    rewrite of petabytes of history.  The footgun this query pins:
    WITHOUT mergeSchema, Spark infers the schema from an arbitrary
    subset of footers, so user_id may silently vanish from the scan
    depending on file listing order -- the oracle (a pure-SQL model of
    "old rows carry NULL") fails in that mode whenever inference lands
    on an old footer."""
    from odp_dynamic_data_pipeline_spark.queries.core import _stream_tmpdir

    ev = load_table(spark, sf_dir, "events")
    cents = F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents")
    v1 = ev.where(F.col("event_id") % 2 == 0).select("event_type", cents)
    v2 = ev.where(F.col("event_id") % 2 == 1).select("event_type", cents, "user_id")
    tmp = _stream_tmpdir("schema_evo")
    out = f"{tmp}/evo"
    v1.write.mode("overwrite").parquet(out)
    v2.write.mode("append").parquet(out)
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.count("user_id").cast("long").alias("n_with_user"),
    )


def _labelprop_oracle(rounds: int) -> str:
    """Unrolled synchronous-LPA replay over the shared md5-minhash
    candidate pairs (same MATERIALIZED-prefix reuse as the kcore /
    PageRank / triangle oracles): round r counts neighbor labels over
    labels{r-1}, takes max count then min label, and left-joins the
    update back (isolated survivors keep their label)."""
    prefix = MINHASH_MD5_ORACLE[: MINHASH_MD5_ORACLE.index("SELECT a.doc_id AS id_a")]
    sql = prefix + """, pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.bi = b.bi AND a.b = b.b AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM pairs
         UNION ALL SELECT id_b, id_a FROM pairs),
labels0 AS MATERIALIZED (SELECT DISTINCT s AS nid, s AS lbl FROM edges)"""
    for r in range(1, rounds + 1):
        p = r - 1
        sql += f""",
nbr{r} AS MATERIALIZED (
  SELECT e.s AS node, l.lbl, COUNT(*) AS cnt
  FROM edges e JOIN labels{p} l ON e.d = l.nid
  GROUP BY e.s, l.lbl
),
best{r} AS MATERIALIZED (
  SELECT c.node, MIN(c.lbl) AS lbl
  FROM nbr{r} c JOIN (SELECT node, MAX(cnt) AS mc FROM nbr{r} GROUP BY node) m
    ON m.node = c.node AND c.cnt = m.mc
  GROUP BY c.node
),
labels{r} AS MATERIALIZED (
  SELECT l.nid, COALESCE(b.lbl, l.lbl) AS lbl
  FROM labels{p} l LEFT JOIN best{r} b ON b.node = l.nid
)"""
    return sql + f"""
SELECT l.nid, l.lbl, s.community_size
FROM labels{rounds} l
JOIN (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS community_size
      FROM labels{rounds} GROUP BY lbl) s ON s.lbl = l.lbl
"""


@register("dedup_graph_labelprop", _labelprop_oracle(rounds=4))
def dedup_graph_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection (operators.dedup.label_propagation) over the
    near-dup candidate graph: synchronous LPA, 4 fixed rounds,
    max-count-then-min-label updates.  The curation granularity BETWEEN
    exact dedup and connected components -- dedup_clusters merges two
    template families joined by one incidental bridge pair into one
    decision; LPA keeps them separate communities.  Sixth oracle-gated
    metric on the shared md5-minhash pair list (CC, PageRank, triangles,
    k-core, star-CC, now communities); the DuckDB oracle unrolls the
    identical rounds."""
    edges = dedup_minhash_md5(spark, sf_dir).select("id_a", "id_b").localCheckpoint(eager=False)
    return dd.label_propagation(edges, rounds=4)


def _cluster_split_oracle() -> str:
    """Recursive-CTE CC (same prefix as DEDUP_CLUSTERS_ORACLE) + md5
    split assignment replayed on both the cluster root and the raw
    doc_id, then edge-straddle counts for both policies."""
    from odp_dynamic_data_pipeline_spark.queries.llm_graph import DEDUP_CLUSTERS_ORACLE

    prefix = DEDUP_CLUSTERS_ORACLE[: DEDUP_CLUSTERS_ORACLE.index("SELECT nid AS doc_id")]
    return prefix.rstrip() + """,
comp AS (SELECT nid AS doc_id, MIN(comp) AS component FROM cc GROUP BY nid),
lab AS (
  SELECT doc_id, component,
         CASE WHEN ('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 15))::BIGINT % 10 < 8
              THEN 'train'
              WHEN ('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 15))::BIGINT % 10 = 8
              THEN 'valid' ELSE 'test' END AS split,
         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 < 8
              THEN 'train'
              WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 = 8
              THEN 'valid' ELSE 'test' END AS naive_split
  FROM comp
),
sizes_row AS (
  SELECT CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         CAST(SUM(CASE WHEN split = 'valid' THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
         CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
         CAST(COUNT(DISTINCT component) AS BIGINT) AS n_clusters
  FROM lab
),
leaks AS (
  SELECT CAST(SUM(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END) AS BIGINT)
           AS leak_edges_cluster,
         CAST(SUM(CASE WHEN a.naive_split <> b.naive_split THEN 1 ELSE 0 END) AS BIGINT)
           AS leak_edges_naive
  FROM edges e JOIN lab a ON a.doc_id = e.id_a JOIN lab b ON b.doc_id = e.id_b
)
SELECT * FROM sizes_row, leaks
"""


@register("cluster_aware_split", _cluster_split_oracle())
def cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/valid/test assignment: documents are split by a
    deterministic md5 hash of their NEAR-DUP CLUSTER root (80/10/10), so
    a document and its near-duplicates land in the same split by
    construction -- the policy that keeps eval sets honest (Lee et al.
    2022 measured inflated benchmark scores from exactly this leak).
    The report counts, over the exact-Jaccard edge set, how many
    near-dup edges straddle splits under (a) the cluster policy
    (provably 0, computed not asserted) and (b) the naive per-doc-hash
    policy (nonzero: the leakage a doc-level split silently ships).
    Assignment is a pure hash of the cluster root -- no shuffle beyond
    the CC computation itself, and new corpus increments re-derive the
    same splits (stable under append, unlike randomSplit)."""
    from odp_dynamic_data_pipeline_spark.queries.llm_graph import _jaccard_edges

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edges = _jaccard_edges(docs).localCheckpoint(eager=False)
    comp = dd.connected_components(docs.select("doc_id"), edges, id_col="doc_id")

    def bucket(col: str) -> F.Column:
        return (
            F.expr(f"CAST(conv(substr(md5(CAST({col} AS STRING)), 1, 15), 16, 10) AS BIGINT)")
            % 10
        )

    def label(b: F.Column) -> F.Column:
        return F.when(b < 8, "train").when(b == 8, "valid").otherwise("test")

    lab = comp.select(
        "doc_id",
        "component",
        label(bucket("component")).alias("split"),
        label(bucket("doc_id")).alias("naive_split"),
    ).localCheckpoint(eager=False)
    sizes_row = lab.agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).cast("long").alias("n_train"),
        F.sum(F.when(F.col("split") == "valid", 1).otherwise(0)).cast("long").alias("n_valid"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).cast("long").alias("n_test"),
        F.countDistinct("component").cast("long").alias("n_clusters"),
    )
    a = lab.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"), F.col("naive_split").alias("na"))
    b = lab.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"), F.col("naive_split").alias("nb"))
    leaks = (
        edges.join(a, "id_a")
        .join(b, "id_b")
        .agg(
            F.sum(F.when(F.col("sa") != F.col("sb"), 1).otherwise(0))
            .cast("long")
            .alias("leak_edges_cluster"),
            F.sum(F.when(F.col("na") != F.col("nb"), 1).otherwise(0))
            .cast("long")
            .alias("leak_edges_naive"),
        )
    )
    return sizes_row.crossJoin(leaks)


@register(
    "collated_source_rollup",
    """
WITH mixed AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN upper(source)
              WHEN doc_id % 3 = 1
              THEN upper(substr(source, 1, 1)) || lower(substr(source, 2))
              ELSE source END AS src_mixed,
         n_chars
  FROM documents
),
agg AS (
  SELECT lower(src_mixed) AS source_lc,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
  FROM mixed GROUP BY lower(src_mixed)
),
dim AS (SELECT DISTINCT upper(source) AS name, CAST(length(source) AS BIGINT) AS code
        FROM documents)
SELECT a.source_lc, a.n_docs, a.sum_chars, d.code
FROM agg a JOIN dim d ON lower(d.name) = a.source_lc
""",
)
def collated_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 COLLATIONS as first-class comparison semantics: a
    mixed-case source column (upper/initcap/raw variants derived per
    doc_id) is grouped AND dim-joined under ``COLLATE UTF8_LCASE`` --
    no ``lower()`` rewrites anywhere in the Spark plan.  The point at
    scale: collation travels with the TYPE, so every downstream
    group/join/sort honors it without per-expression normalization
    (and without materializing a derived key column); one declaration
    replaces N scattered lower() wrappers that each risk being
    forgotten.  Group representatives under a collation are
    engine-specific, so the output key is normalized via lower() only
    at the boundary; the DuckDB oracle models the same semantics with
    explicit lower() -- the two plans agree exactly BECAUSE UTF8_LCASE
    equality == lower()-equality on this ASCII corpus."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    mixed = docs.select(
        F.expr(
            "CASE WHEN doc_id % 3 = 0 THEN upper(source)"
            " WHEN doc_id % 3 = 1 THEN initcap(source)"
            " ELSE source END COLLATE UTF8_LCASE"
        ).alias("k"),
        "n_chars",
    )
    agg = mixed.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    dim = (
        docs.select(
            F.expr("upper(source) COLLATE UTF8_LCASE").alias("name"),
            F.length("source").cast("long").alias("code"),
        )
        .distinct()
    )
    return (
        agg.join(dim, agg["k"] == dim["name"])
        .select(
            F.lower(F.col("k").cast("string")).alias("source_lc"),
            "n_docs",
            "sum_chars",
            "code",
        )
    )


@register(
    "sql_frontend_identifier",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM events
GROUP BY event_type
""",
)
def sql_frontend_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Injection-safe dynamic identifiers (Spark 4 ``IDENTIFIER(:p)``):
    the table AND the grouping column arrive as named parameters, the
    statement template never changes -- the SQL-frontend twin of the
    reference's config-driven templating (bucket yaml source/key
    templates, src/data_processor.py config plumbing), where pipeline
    configs choose tables/columns at run time.  String-splicing
    identifiers into SQL is the injection/typo path; IDENTIFIER keeps
    the plan cacheable and the name a VALUE, validated by the parser.
    The oracle is the equivalent static statement."""
    register_views(spark, sf_dir, ["events"])
    return spark.sql(
        """
        SELECT IDENTIFIER(:gcol) AS event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(IDENTIFIER(:vcol) * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:gcol)
        """,
        args={"tbl": "events", "gcol": "event_type", "vcol": "value"},
    )


@register(
    "pyds_stream_sink_roundtrip",
    """
WITH ids AS (SELECT UNNEST(generate_series(0, 199)) AS doc_id),
d AS (
  SELECT doc_id,
         5 + ('0x' || substr(md5('len|' || doc_id), 1, 15))::BIGINT % 20 AS n_tok
  FROM ids
),
t AS (
  SELECT doc_id, n_tok,
         array_to_string(list_transform(range(0, CAST(n_tok AS INT)),
           j -> 't' || (('0x' || substr(md5('tok|' || doc_id || '|' || j), 1, 15))::BIGINT % 1000)),
           ' ') AS text
  FROM d
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens, md5(text) AS text_md5 FROM t
""",
)
def pyds_stream_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Python DataSource SINK (Spark 4 ``DataSourceStreamWriter``,
    sources.pyds.JsonlStreamSinkWriter) -- completes the Python-DataSource
    matrix: batch read, batch write, stream read, stream write.  A fully
    pure-Python streaming pipeline: the synthetic-corpus stream reader
    feeds micro-batches into the jsonl stream sink, whose per-batch
    two-phase commit (stage .tmp on executors, delete-then-rename under
    batch-prefixed names on the driver) keeps a replayed batch from
    doubling output after a crash between sink commit and checkpoint
    commit.  The read-back of the committed jsonl files is gated by the
    SAME md5-replay oracle as the batch source, so the hash covers
    source -> micro-batch -> Python sink commit -> rescan end to end.
    Restart/replay idempotence is pinned by tests/test_pyds_stream.py."""
    from odp_dynamic_data_pipeline_spark.queries.core import _stream_tmpdir
    from odp_dynamic_data_pipeline_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    tmp = _stream_tmpdir("pyds_stream_sink")
    stream = (
        spark.readStream.format("synthetic_corpus")
        .option("n_docs", 200)
        .option("partitions", 8)
        .load()
    )
    out = stream.select(
        "doc_id",
        F.expr("size(split(text, ' '))").cast("long").alias("n_tokens"),
        F.md5("text").alias("text_md5"),
    )
    q = (
        out.writeStream.format("jsonl_pysink")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.schema("doc_id bigint, n_tokens bigint, text_md5 string").json(
        f"{tmp}/out"
    )


@register(
    "observed_stream_metrics",
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
       CAST(COUNT(*) AS BIGINT) AS n_written
FROM events
""",
)
def observed_stream_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING pipeline instrumentation: ``df.observe`` on an unbounded
    file stream -- per-micro-batch CollectMetrics accumulated from the
    query's progress telemetry (``StreamingQueryProgress.observedMetrics``),
    the streaming twin of observed_quality_metrics.  The audit rides the
    ingest pass itself: no second read of the stream, no state store, and
    at 100 TB/day the per-batch metric rows are the ONLY thing the driver
    ever sees.  Totals summed across the RETAINED progress entries --
    correct under multi-batch catch-up up to the retention bound
    (``spark.sql.streaming.numRecentProgressUpdates`` keeps the last
    100 progress objects, far above this query's batch count); a
    long-lived production query instead CONSUMES each progress event as
    it arrives (StreamingQueryListener) and ships per-batch rows to
    telemetry, so no post-hoc summation window applies.  The readback
    ``n_written`` is equated with the observed row count by the
    oracle, so the metrics provably describe the committed output.
    Mirrors the reference's per-run processed-entry logging
    (src/data_processor.py) as engine telemetry instead of hand counts."""
    from odp_dynamic_data_pipeline_spark.queries.core import _replay_stream, _stream_tmpdir
    from odp_dynamic_data_pipeline_spark.streaming.stream import run_available_now

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents")
    )
    tmp = _stream_tmpdir("observed_stream")
    stream = _replay_stream(spark, ev, tmp)
    observed = stream.observe(
        "ingest_audit",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("cents"),
    )
    q = run_available_now(
        observed,
        format="parquet",
        query_name="",
        path=f"{tmp}/out",
        checkpoint=f"{tmp}/ckpt",
    )
    n_rows = cents = 0
    for p in q.recentProgress:
        m = (p.observedMetrics or {}).get("ingest_audit")
        if m is not None:
            # a zero-row batch observes count=0 but SUM=NULL -- coalesce both
            n_rows += m["n_rows"] or 0
            cents += m["cents"] or 0
    n_written = spark.read.schema("event_id bigint, cents bigint").parquet(f"{tmp}/out").count()
    return spark.range(1).select(
        F.lit(n_rows).cast("long").alias("n_rows"),
        F.lit(cents).cast("long").alias("cents"),
        F.lit(n_written).cast("long").alias("n_written"),
    )


@register(
    "sql_frontend_pivot",
    """
SELECT user_id % 10 AS cohort,
       CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS BIGINT) AS click_cents,
       CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click_n,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS BIGINT) AS purchase_cents,
       CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase_n,
       CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS BIGINT) AS view_cents,
       CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view_n
FROM events
GROUP BY user_id % 10
""",
)
def sql_frontend_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIVOT clause (the relational spreadsheet flip as declarative
    syntax, completing the SQL-frontend family alongside pipe / GROUP BY
    ALL / parameterized / IDENTIFIER): multi-aggregate pivot
    (SUM + COUNT per pivoted value) with an EXPLICIT value list -- the
    only shape that scales, because implicit value discovery costs an
    extra distinct pass over the corpus and an unbounded output schema;
    a 100 TB pivot always enumerates its columns.  Spark compiles this
    to the same single-pass conditional aggregation as the DataFrame
    ``pivot()`` (pivot_event_counts); the oracle is the portable
    CASE-aggregation spelling, and the outer SELECT pins the
    deterministic column names AND coalesces the counts: PIVOT's
    COUNT(*) yields NULL (not 0) for a group missing a pivoted
    value, while COUNT(CASE ...) yields 0 -- without the COALESCE
    the two spellings diverge on any dataset where some cohort
    lacks one of the enumerated types (the sums agree either way:
    both spell an empty SUM as NULL)."""
    register_views(spark, sf_dir, ["events"])
    return spark.sql(
        """
        SELECT cohort,
               click_s AS click_cents,
               COALESCE(click_n, 0) AS click_n,
               purchase_s AS purchase_cents,
               COALESCE(purchase_n, 0) AS purchase_n,
               view_s AS view_cents,
               COALESCE(view_n, 0) AS view_n
        FROM (SELECT user_id % 10 AS cohort, event_type,
                     CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
              FROM events)
        PIVOT (SUM(cents) AS s, COUNT(*) AS n
               FOR event_type IN ('click', 'purchase', 'view'))
        """
    )


@register(
    "mannwhitney_value_shift",
    """
WITH vals AS (
  SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS cents, event_type
  FROM events WHERE event_type IN ('purchase', 'view')
),
g AS (
  SELECT cents,
         COUNT(*) FILTER (WHERE event_type = 'purchase') AS c_a,
         COUNT(*) FILTER (WHERE event_type = 'view') AS c_b
  FROM vals GROUP BY cents
),
cum AS (
  SELECT cents, c_a, c_b, c_a + c_b AS c,
         SUM(c_a + c_b) OVER (ORDER BY cents) AS c_cum
  FROM g
),
s AS (
  SELECT SUM(c_a) AS na, SUM(c_b) AS nb,
         SUM(CAST(c_a AS HUGEINT) * (2 * c_cum - c + 1)) AS r2a,
         SUM(CAST(c_b AS HUGEINT) * (2 * c_cum - c + 1)) AS r2b,
         SUM(CAST(c AS HUGEINT) * c * c - c) AS tie
  FROM cum
),
u AS (
  SELECT na, nb,
         r2a - CAST(na AS HUGEINT) * (na + 1) AS u2a,
         r2b - CAST(nb AS HUGEINT) * (nb + 1) AS u2b,
         tie
  FROM s
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(u2a AS BIGINT) AS u2_a,
       CAST(u2b AS BIGINT) AS u2_b,
       CAST(tie AS BIGINT) AS tie_term,
       CAST((1000000 * abs(u2a - CAST(na AS HUGEINT) * nb)) // (CAST(na AS HUGEINT) * nb) AS BIGINT)
         AS abs_rb_e6
FROM u
""",
)
def mannwhitney_value_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Mann-Whitney U between the purchase and view value
    distributions -- the rank-based LOCATION test that pairs with
    ks_test_value_drift's shape test (KS asks "did the distribution
    change"; MWU asks "did one group stochastically dominate").  Ranks
    use the tie-averaged convention held as DOUBLED integers (2*avgrank
    of a tie run [lo, hi] is the integer lo + hi), so U, the tie
    correction term sum(c^3 - c), and the rank-biserial effect size are
    exact across engines with no floating point anywhere.

    Scale shape: values collapse to a distinct-cents rollup with
    per-group counts (one shuffle, map-side combine), the pooled
    cumulative count rides operators.partitioning.global_prefix_sum
    (range-partition + driver prefix offsets -- never an unpartitioned
    window over the support), and everything after is a single
    aggregation.  U_a + U_b = n_a*n_b holds by construction, so the two
    reported doubled statistics cross-check each other in the output
    row itself."""
    from odp_dynamic_data_pipeline_spark.operators.partitioning import (
        global_prefix_sum,
    )

    vals = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
            "event_type",
        )
    )
    g = vals.groupBy("cents").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("c_b"),
    )
    cum = global_prefix_sum(
        g.withColumn("c", F.col("c_a") + F.col("c_b")), ["cents"], ["c"]
    )
    # operands promoted to DECIMAL(38,0) BEFORE multiplying (the chi2
    # precedent): c_a * c_cum products pass int64 once the corpus passes
    # ~3e9 rows; the BIGINT OUTPUT columns hold U exactly up to ~3e9 rows
    # per group (U <= n_a*n_b) -- widen the final casts past that.
    # The tie_term output overflows BIGINT far EARLIER than U does:
    # sum(c^3 - c) passes int64 once any single cents value repeats
    # ~2.1M times (2.1e6^3 ~ 9.2e18), and in non-ANSI Spark the output
    # cast wraps silently while DuckDB errors loudly -- keep tie as
    # DECIMAL output (drop the .cast("long")) past that duplicate count.
    s = cum.agg(
        F.sum("c_a").cast("long").alias("na"),
        F.sum("c_b").cast("long").alias("nb"),
        F.expr(
            "sum(CAST(c_a AS DECIMAL(38,0)) * (2 * c_cum - c + 1))"
        ).alias("r2a"),
        F.expr(
            "sum(CAST(c_b AS DECIMAL(38,0)) * (2 * c_cum - c + 1))"
        ).alias("r2b"),
        F.expr("sum(CAST(c AS DECIMAL(38,0)) * c * c - c)").alias("tie"),
    )
    u = s.select(
        "na",
        "nb",
        F.expr("r2a - CAST(na AS DECIMAL(38,0)) * (na + 1)").alias("u2a"),
        F.expr("r2b - CAST(nb AS DECIMAL(38,0)) * (nb + 1)").alias("u2b"),
        "tie",
    )
    return u.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.col("u2a").cast("long").alias("u2_a"),
        F.col("u2b").cast("long").alias("u2_b"),
        F.col("tie").cast("long").alias("tie_term"),
        F.expr(
            "CAST((1000000 * abs(u2a - CAST(na AS DECIMAL(38,0)) * nb))"
            " div (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)"
        ).alias("abs_rb_e6"),
    )


@register(
    "pareto_frontier_parts",
    """
WITH p AS (
  SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
         CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS price_cents
  FROM part
),
best AS (SELECT p_size, MIN(price_cents) AS best_cents FROM p GROUP BY p_size),
f AS (
  SELECT p_size, best_cents,
         MIN(best_cents) OVER (ORDER BY p_size DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmin
  FROM best
)
SELECT p.p_partkey, p.p_size, p.price_cents
FROM p JOIN f ON p.p_size = f.p_size AND p.price_cents = f.best_cents
WHERE f.runmin IS NULL OR f.runmin > f.best_cents
""",
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (2-D SKYLINE) of the part catalog: every part not
    dominated in (maximize p_size, minimize price) -- dominated meaning
    some other part has size >= AND price <= with at least one strict.
    The classic multi-objective shortlist operator (Borzsony et al.,
    ICDE 2001 'The Skyline Operator').

    Scale shape: skyline is DISTRIBUTIVE over any partitioning, and with
    one discrete objective it collapses further -- a min(price) rollup
    per size (one shuffle, map-side combine) reduces the candidate set
    to <= |size domain| rows, the frontier test is a running min over
    that bounded rollup sorted by size descending (a point survives iff
    every strictly-larger size costs strictly more), and frontier
    membership broadcast-joins back to the scan so ALL parts achieving a
    frontier point are returned (ties included).  No O(n^2) dominance
    join anywhere; the only window runs over the size-domain rollup,
    never the data."""
    from pyspark.sql import Window

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("long").alias("p_size"),
        F.expr("CAST(ROUND(p_retailprice * 100, 0) AS BIGINT)").alias("price_cents"),
    )
    best = p.groupBy("p_size").agg(F.min("price_cents").alias("best_cents"))
    w = (
        Window.orderBy(F.col("p_size").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = (
        best.withColumn("runmin", F.min("best_cents").over(w))
        .where(F.col("runmin").isNull() | (F.col("runmin") > F.col("best_cents")))
        .select(
            F.col("p_size").alias("f_size"), F.col("best_cents").alias("f_cents")
        )
    )
    return p.join(
        F.broadcast(frontier),
        (p["p_size"] == F.col("f_size")) & (p["price_cents"] == F.col("f_cents")),
    ).select("p_partkey", "p_size", "price_cents")


@register(
    "ewma_user_values",
    """
WITH e AS (
  SELECT user_id, event_id, ts,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
f AS (
  SELECT user_id, event_id, cents,
         list(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS frame,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_events
  FROM e
),
g AS (
  SELECT user_id, n_events, event_id AS last_event_id, cents AS last_cents,
         len(frame) AS flen,
         list_sum(list_transform(range(len(frame)),
                                 i -> frame[i + 1] * (CAST(1 AS BIGINT) << i))) AS num
  FROM f WHERE rn = 1
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(last_event_id AS BIGINT) AS last_event_id,
       CAST(last_cents AS BIGINT) AS last_cents,
       CAST(flen AS BIGINT) AS frame_len,
       CAST((1000 * num) // ((CAST(1 AS BIGINT) << flen) - 1) AS BIGINT)
         AS ewma_millicents
FROM g
""",
)
def ewma_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-decay smoothing with EXACT integer arithmetic: each
    user's event values smoothed by a binary-decay trailing window (the
    newest of the last 16 events weighs 2^15, each older event half
    that), reported at the user's final event -- the monitoring-style
    "current smoothed level" per entity.  A true infinite-horizon EWMA
    recursion needs unbounded-precision weights; truncating the horizon
    at 16 halvings (the oldest in-frame event contributes < 0.002%)
    keeps every weight an exact power of two, so numerator and
    denominator (2^len - 1) are exact BIGINTs and both engines agree
    bit-for-bit with zero floating point.

    Scale shape: one per-user ROWS window (collect_list over a 16-row
    frame -- bounded state per row), the weighted fold is a JVM-side
    ``transform``+``aggregate`` over that 16-element array (no Python,
    no shuffle beyond the user partitioning), and the final-row pick is
    a per-user row_number.  Output is one row per user, never per
    event.  Division is spelled floor-style via pmod so it matches
    DuckDB ``//`` for any sign, though cents are nonnegative here."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-15, Window.currentRow)
    )
    wu = Window.partitionBy("user_id")
    wlast = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    f = e.select(
        "user_id",
        "event_id",
        "cents",
        F.collect_list("cents").over(wf).alias("frame"),
        F.row_number().over(wlast).alias("rn"),
        F.count(F.lit(1)).over(wu).alias("n_events"),
    ).where(F.col("rn") == 1)
    g = f.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("event_id").cast("long").alias("last_event_id"),
        F.col("cents").cast("long").alias("last_cents"),
        F.size("frame").cast("long").alias("frame_len"),
        F.expr(
            "1000 * aggregate(transform(frame, (x, i) ->"
            " x * shiftleft(CAST(1 AS BIGINT), i)), CAST(0 AS BIGINT),"
            " (acc, v) -> acc + v)"
        ).alias("num_milli"),
        F.expr("shiftleft(CAST(1 AS BIGINT), size(frame)) - 1").alias("den"),
    )
    return g.select(
        "user_id",
        "n_events",
        "last_event_id",
        "last_cents",
        "frame_len",
        F.expr("CAST((num_milli - pmod(num_milli, den)) div den AS BIGINT)").alias(
            "ewma_millicents"
        ),
    )


@register(
    "randomization_test_means",
    """
WITH vals AS (
  SELECT event_id, CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
  FROM events WHERE event_type IN ('purchase', 'view')
),
obs AS (
  SELECT SUM(is_a) AS na, SUM(1 - is_a) AS nb,
         SUM(CASE WHEN is_a = 1 THEN cents ELSE 0 END) AS sa,
         SUM(CASE WHEN is_a = 0 THEN cents ELSE 0 END) AS sb
  FROM vals
),
rel AS (
  SELECT p.perm,
         CASE WHEN ('0x' || substr(md5(p.perm || '|' || v.event_id), 1, 15))::BIGINT
                   % (o.na + o.nb) < o.na
              THEN 1 ELSE 0 END AS ra,
         v.cents
  FROM vals v
  CROSS JOIN (SELECT UNNEST(generate_series(0, 31)) AS perm) p
  CROSS JOIN obs o
),
pstat AS (
  SELECT perm,
         SUM(ra) AS pna, SUM(1 - ra) AS pnb,
         SUM(CASE WHEN ra = 1 THEN cents ELSE 0 END) AS psa,
         SUM(CASE WHEN ra = 0 THEN cents ELSE 0 END) AS psb
  FROM rel GROUP BY perm
),
cmp AS (
  SELECT p.perm,
         CASE
           WHEN p.pna = 0 OR p.pnb = 0 THEN 1
           WHEN abs(CAST(p.psa AS HUGEINT) * p.pnb - CAST(p.psb AS HUGEINT) * p.pna)
                  * (CAST(o.na AS HUGEINT) * o.nb)
                >= abs(CAST(o.sa AS HUGEINT) * o.nb - CAST(o.sb AS HUGEINT) * o.na)
                  * (CAST(p.pna AS HUGEINT) * p.pnb)
           THEN 1 ELSE 0
         END AS ge
  FROM pstat p CROSS JOIN obs o
)
SELECT CAST(o.na AS BIGINT) AS n_a, CAST(o.nb AS BIGINT) AS n_b,
       CAST(abs(CAST(o.sa AS HUGEINT) * o.nb - CAST(o.sb AS HUGEINT) * o.na) AS BIGINT)
         AS t0_num_abs,
       CAST(CAST(o.na AS HUGEINT) * o.nb AS BIGINT) AS t0_den,
       CAST(32 AS BIGINT) AS n_perms,
       CAST((SELECT SUM(ge) FROM cmp) AS BIGINT) AS n_ge,
       CAST((1000000 * ((SELECT SUM(ge) FROM cmp) + 1)) // 33 AS BIGINT) AS p_e6
FROM obs o
""",
)
def randomization_test_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo randomization test for a difference in group means
    (purchase vs view values), the distribution-free significance test
    that needs NO variance model: 32 deterministic relabelings of the
    pooled sample, each drawn by an md5 hash of (perm, event_id) with
    Bernoulli(n_a/n) label odds, rebuild the null distribution of
    |mean_a - mean_b|; the p-value is the add-one-smoothed fraction of
    relabelings at least as extreme as the observed labeling.  NOTE:
    because each event's label is i.i.d. Bernoulli, a relabeling does
    NOT preserve the observed group sizes -- this is a bootstrap-style
    relabeling null (an unconditional approximation), not an exact
    permutation test conditioned on (n_a, n_b); degenerate empty-group
    draws are counted extreme, the conservative convention.  Mean
    differences are never divided out: |S_a*n_b - S_b*n_a| / (n_a*n_b)
    comparisons cross-multiply as exact DECIMAL(38,0)/HUGEINT rationals,
    so both engines count the identical extreme set.  A degenerate
    relabeling (one side empty, undefined statistic) counts as extreme --
    the conservative convention.

    Scale shape: the 32 relabelings ride one ``explode(sequence(...))``
    over the pooled scan (x32 row inflation, the operator's honest
    cost), a single groupBy(perm) with map-side partial aggregation
    collapses them to 32 rows, and the observed totals ride a broadcast
    single-row cross join -- no per-permutation pass over the data, no
    driver loop.  Hash-derived labels mean a resumed or re-run job draws
    the SAME null distribution (auditable p-values, unlike rand())."""
    vals = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            "event_id",
            F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
            F.expr(
                "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
            ).alias("is_a"),
        )
    )
    obs = vals.agg(
        F.sum("is_a").cast("long").alias("na"),
        F.expr("CAST(sum(1 - is_a) AS BIGINT)").alias("nb"),
        F.expr("CAST(sum(CASE WHEN is_a = 1 THEN cents ELSE 0 END) AS BIGINT)").alias("sa"),
        F.expr("CAST(sum(CASE WHEN is_a = 0 THEN cents ELSE 0 END) AS BIGINT)").alias("sb"),
    )
    rel = (
        vals.select(
            "event_id",
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(31))).alias("perm"),
        )
        .crossJoin(F.broadcast(obs))
        .select(
            "perm",
            "cents",
            F.expr(
                "CASE WHEN CAST(conv(substr(md5(concat(CAST(perm AS STRING), '|',"
                " CAST(event_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
                " % (na + nb) < na THEN 1 ELSE 0 END"
            ).alias("ra"),
        )
    )
    pstat = rel.groupBy("perm").agg(
        F.sum("ra").cast("long").alias("pna"),
        F.expr("CAST(sum(1 - ra) AS BIGINT)").alias("pnb"),
        F.expr("CAST(sum(CASE WHEN ra = 1 THEN cents ELSE 0 END) AS BIGINT)").alias("psa"),
        F.expr("CAST(sum(CASE WHEN ra = 0 THEN cents ELSE 0 END) AS BIGINT)").alias("psb"),
    )
    cmp = pstat.crossJoin(F.broadcast(obs)).select(
        F.expr(
            "CASE WHEN pna = 0 OR pnb = 0 THEN 1"
            " WHEN abs(CAST(psa AS DECIMAL(38,0)) * pnb - CAST(psb AS DECIMAL(38,0)) * pna)"
            "      * (CAST(na AS DECIMAL(38,0)) * nb)"
            "   >= abs(CAST(sa AS DECIMAL(38,0)) * nb - CAST(sb AS DECIMAL(38,0)) * na)"
            "      * (CAST(pna AS DECIMAL(38,0)) * pnb)"
            " THEN 1 ELSE 0 END"
        ).alias("ge")
    )
    nge = cmp.agg(F.sum("ge").cast("long").alias("n_ge"))
    return (
        obs.crossJoin(F.broadcast(nge))
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            F.expr(
                "CAST(abs(CAST(sa AS DECIMAL(38,0)) * nb - CAST(sb AS DECIMAL(38,0)) * na)"
                " AS BIGINT)"
            ).alias("t0_num_abs"),
            F.expr("CAST(CAST(na AS DECIMAL(38,0)) * nb AS BIGINT)").alias("t0_den"),
            F.lit(32).cast("long").alias("n_perms"),
            F.col("n_ge"),
            F.expr("CAST((1000000 * (n_ge + 1)) div 33 AS BIGINT)").alias("p_e6"),
        )
    )


@register(
    "exact_quantiles_events",
    """
WITH e AS (
  SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS cents FROM events
),
g AS (SELECT cents, COUNT(*) AS c FROM e GROUP BY cents),
cum AS (SELECT cents, SUM(c) OVER (ORDER BY cents) AS c_cum FROM g),
t AS (SELECT SUM(c) AS n FROM g)
SELECT CAST(t.n AS BIGINT) AS n,
       CAST(MIN(CASE WHEN c_cum >= (50 * t.n + 99) // 100 THEN cents END) AS BIGINT)
         AS p50_cents,
       CAST(MIN(CASE WHEN c_cum >= (90 * t.n + 99) // 100 THEN cents END) AS BIGINT)
         AS p90_cents,
       CAST(MIN(CASE WHEN c_cum >= (99 * t.n + 99) // 100 THEN cents END) AS BIGINT)
         AS p99_cents
FROM cum CROSS JOIN t
GROUP BY t.n
""",
)
def exact_quantiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed quantiles (p50/p90/p99 of event value cents) as
    lower order statistics: the k-th smallest value with k = ceil(q*n),
    integer-exact on both engines with no interpolation.  Spark's own
    exact ``percentile()`` buffers every group value in ONE task's memory
    (fails first at 100 TB) and ``approx_percentile`` trades exactness
    for a sketch; this is the third point on that trade-off -- exact AND
    distributed: collapse to a distinct-value rollup with counts (one
    shuffle, map-side combine), run the cumulative count through
    operators.partitioning.global_prefix_sum (range-partition + driver
    prefix offsets), and each quantile is then min(value where
    c_cum >= k) -- a single aggregation.  Totals ride a broadcast
    single-row cross join.  Cost scales with |distinct values|, which for
    fixed-precision measures (cents) is bounded by the value domain, not
    the row count."""
    from odp_dynamic_data_pipeline_spark.operators.partitioning import (
        global_prefix_sum,
    )

    g = (
        load_table(spark, sf_dir, "events")
        .select(F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"))
        .groupBy("cents")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cum = global_prefix_sum(g, ["cents"], ["c"])
    tot = g.agg(F.sum("c").cast("long").alias("n"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            *[
                F.min(
                    F.when(
                        F.expr(f"c_cum >= ({q} * n + 99) div 100"), F.col("cents")
                    )
                )
                .cast("long")
                .alias(f"p{q}_cents")
                for q in (50, 90, 99)
            ]
        )
        .select("n", "p50_cents", "p90_cents", "p99_cents")
    )


@register(
    "sql_scripting_threshold_search",
    """
WITH b AS (
  SELECT LEAST(CAST(n_chars // 50 AS BIGINT), 9) AS bucket FROM documents
),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM b),
cand AS (
  SELECT g.t AS thr,
         CAST(COUNT(*) FILTER (WHERE b.bucket >= g.t) AS BIGINT) AS kept
  FROM b CROSS JOIN (SELECT UNNEST(generate_series(0, 9)) AS t) g
  GROUP BY g.t
),
pick AS (
  SELECT COALESCE(MAX(thr) FILTER (WHERE kept * 100 >= t.total * 60), 0) AS thr
  FROM cand CROSS JOIN t GROUP BY t.total
)
SELECT CAST(p.thr AS INT) AS threshold,
       c.kept AS n_kept,
       t.total AS n_total
FROM pick p JOIN cand c ON c.thr = p.thr CROSS JOIN t
""",
)
def sql_scripting_threshold_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL SCRIPTING (BEGIN ... END with DECLARE / WHILE /
    scalar-subquery SET): an iterative quality-threshold search expressed
    entirely in SQL -- start at the strictest length-decile gate and relax
    one step per iteration until >= 60% of the corpus survives.  This is
    the declarative twin of the driver-side config loop the reference runs
    in imperative Python: the control flow ships WITH the query text, so
    an operator can tune the gate from a SQL console with no deployment.

    Each loop iteration is one aggregate job over the corpus (the honest
    cost of a data-dependent search; at most 10 here).  The DuckDB oracle
    replays the loop's fixed point closed-form: the largest threshold
    keeping >= 60%, else 0 -- bit-equal because survivors at a threshold
    are a pure deterministic bucket count."""
    register_views(spark, sf_dir, ["documents"])
    old = spark.conf.get("spark.sql.scripting.enabled", None)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        df = spark.sql(
            """
            BEGIN
              DECLARE thr INT DEFAULT 9;
              DECLARE kept BIGINT DEFAULT 0;
              DECLARE total BIGINT DEFAULT 0;
              SET total = (SELECT COUNT(*) FROM documents);
              SET kept = (SELECT COUNT(*) FROM documents
                          WHERE LEAST(CAST(n_chars div 50 AS BIGINT), 9) >= thr);
              WHILE kept * 100 < total * 60 AND thr > 0 DO
                SET thr = thr - 1;
                SET kept = (SELECT COUNT(*) FROM documents
                            WHERE LEAST(CAST(n_chars div 50 AS BIGINT), 9) >= thr);
              END WHILE;
              SELECT thr AS threshold, kept AS n_kept, total AS n_total;
            END
            """
        )
        # materialize under the scripting conf: the script executes eagerly
        # at sql() time in Spark 4.1, but pin the rows before restoring
        rows = df.collect()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.scripting.enabled")
        else:
            spark.conf.set("spark.sql.scripting.enabled", old)
    from odp_dynamic_data_pipeline_spark.functions.localrel import local_relation

    return local_relation(spark, rows, df.schema)


def _link_prediction_oracle() -> str:
    """Common-neighbor / Adamic-Adar replay over the shared md5-minhash
    candidate pairs (same prefix reuse as the PageRank/triangle/k-core
    oracles; pairs MATERIALIZED -- referenced three times)."""
    from odp_dynamic_data_pipeline_spark.queries.llm_text import duck_ilog2_sql

    prefix = MINHASH_MD5_ORACLE[: MINHASH_MD5_ORACLE.index("SELECT a.doc_id AS id_a")]
    inv_lg = f"((CAST(1000000 AS BIGINT) << 20) // {duck_ilog2_sql('deg.deg')})"
    return prefix + f""", pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.bi = b.bi AND a.b = b.b AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
sym AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
deg AS MATERIALIZED (SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY s),
wed AS (
  SELECT w1.d AS i, w2.d AS j, w1.s AS k
  FROM sym w1 JOIN sym w2 ON w1.s = w2.s AND w1.d < w2.d
),
sc AS (
  SELECT i, j, CAST(COUNT(*) AS BIGINT) AS cn,
         CAST(SUM({inv_lg}) AS BIGINT) AS aa
  FROM wed JOIN deg ON deg.s = wed.k
  GROUP BY i, j
)
SELECT sc.i AS id_a, sc.j AS id_b, sc.cn AS common_neighbors, sc.aa AS aa_e6,
       (p.id_a IS NOT NULL) AS is_edge
FROM sc LEFT JOIN pairs p ON p.id_a = sc.i AND p.id_b = sc.j
"""


@register("link_prediction_scores", _link_prediction_oracle())
def link_prediction_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION over the near-duplicate candidate graph: every
    distance-2 pair scored by common-neighbor count and Adamic-Adar
    (Adamic & Adar 2003: sum over shared neighbors of 1/log(degree) --
    rare shared neighbors weigh more), flagged by whether the pair is
    already a direct edge.  The is_edge=false rows are the "probably the
    same template family, but LSH banding missed the direct collision"
    recall-repair candidates worth an exact-verify pass; the
    is_edge=true rows calibrate the score (an AA threshold picked where
    the two distributions separate).  Banding-clique graphs (every
    distance-2 pair already an edge -- the small-fixture regime) still
    produce the full calibration side.

    Exact integers end to end: 1/log2(deg) rides the square-and-extract
    fixed-point log2 fold (functions.scalars.ilog2_fp20_sql; deg >= 2 for
    any shared neighbor by construction, so the fold's x >= 1 contract
    holds).  Scale shape: wedges enumerate via one equi-self-join of the
    symmetrized edge list keyed on the shared endpoint (degree-bounded
    fan-out, the triangle-counting cost class -- orient low->high degree
    to bound it by O(sqrt(m)) per edge at larger graphs), one groupBy
    (pair), and existing edges leave via a broadcastable anti-join.  No
    cartesian anywhere."""
    edges = dedup_minhash_md5(spark, sf_dir).select("id_a", "id_b")
    return dd.adamic_adar_scores(edges)


def _linkpred_topk_oracle() -> str:
    """DuckDB replay of the SAMPLED-wedge exact-rescore top-k: md5-ranked
    per-node neighbor sample (engine-identical hex ordering), sampled
    wedges -> candidates, exact rescore over the full sym table, total
    deterministic order, LIMIT 20."""
    from odp_dynamic_data_pipeline_spark.queries.llm_text import duck_ilog2_sql

    prefix = MINHASH_MD5_ORACLE[: MINHASH_MD5_ORACLE.index("SELECT a.doc_id AS id_a")]
    inv_lg = f"((CAST(1000000 AS BIGINT) << 20) // {duck_ilog2_sql('deg.deg')})"
    return prefix + f""", pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.bi = b.bi AND a.b = b.b AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
sym AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
deg AS MATERIALIZED (SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY s),
samp AS (
  SELECT s, d FROM (
    SELECT s, d, row_number() OVER (
      PARTITION BY s
      ORDER BY md5(CAST(s AS VARCHAR) || ':' || CAST(d AS VARCHAR))) AS rn
    FROM sym)
  WHERE rn <= 8
),
cand AS (
  SELECT DISTINCT w1.d AS i, w2.d AS j
  FROM samp w1 JOIN samp w2 ON w1.s = w2.s AND w1.d < w2.d
),
shared AS (
  SELECT c.i, c.j, ni.s AS kk
  FROM cand c
  JOIN sym ni ON ni.d = c.i
  JOIN sym nj ON nj.s = ni.s AND nj.d = c.j
),
sc AS (
  SELECT i, j, CAST(COUNT(*) AS BIGINT) AS cn,
         CAST(SUM({inv_lg}) AS BIGINT) AS aa
  FROM shared JOIN deg ON deg.s = shared.kk
  GROUP BY i, j
)
SELECT sc.i AS id_a, sc.j AS id_b, sc.cn AS common_neighbors, sc.aa AS aa_e6,
       (p.id_a IS NOT NULL) AS is_edge
FROM sc LEFT JOIN pairs p ON p.id_a = sc.i AND p.id_b = sc.j
ORDER BY aa_e6 DESC, common_neighbors DESC, id_a, id_b
LIMIT 20
"""


@register("linkpred_topk_sampled", _linkpred_topk_oracle())
def linkpred_topk_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-K link prediction at sub-quadratic wedge cost (the 100 TB path
    for `link_prediction_scores`, whose sum(deg^2) wedge bill measured
    exponent 0.79 even hub-capped): each node keeps its 8 lowest-md5-
    ranked neighbors (deterministic, engine-replayable -- NOT an RNG), so
    wedge generation costs <= 64 wedges per node regardless of hub
    degrees; candidates then rescore EXACTLY over the full graph, so
    every emitted Adamic-Adar score is the true value -- sampling decides
    which pairs compete, never their weights.  Recall contract: every
    wedge through a deg <= 8 node survives, and AA's 1/log2(deg)
    weighting makes exactly those rare-neighbor pairs the top of the
    ranking (crafted-graph-tested in tests/test_link_prediction.py).
    Deterministic total order (aa desc, cn desc, id_a, id_b), k = 20."""
    edges = dedup_minhash_md5(spark, sf_dir).select("id_a", "id_b")
    return dd.adamic_adar_topk(edges, k=20, sample_per_node=8)


@register(
    "file_provenance_report",
    """
SELECT 'documents.parquet' AS file_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(COUNT(*) AS BIGINT) AS n_row_idx,
       CAST(0 AS BIGINT) AS min_row_idx,
       CAST(COUNT(*) - 1 AS BIGINT) AS max_row_idx
FROM documents
""",
)
def file_provenance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level provenance via the hidden ``_metadata`` struct (Spark's
    file-source metadata columns): per physical file, row counts, id
    ranges, and the row_index invariants (count-distinct == rows, min 0,
    max n-1 -- within one file, Spark's _metadata.row_index is the dense
    0-based physical position).  At 100 TB this is the "which file did
    the bad rows come from" debugging query -- provenance rides the SAME
    scan as the aggregate, no join against any manifest.

    The _metadata struct only exists on the scan relation, so the query
    reads the parquet directly (documents has no timestamp column, so no
    nanos normalization is needed).  Oracle note: the testdata fixture is
    one physical file per table at every scale, so the DuckDB replay pins
    file_name to the literal basename; a multi-file layout would return
    one row per file here and fail the gate loudly rather than silently
    -- the single-file invariant is asserted, not assumed."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        df.select(
            F.col("_metadata.file_name").alias("file_name"),
            F.col("_metadata.row_index").alias("row_idx"),
            "doc_id",
            "n_chars",
        )
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
            F.max("doc_id").cast("long").alias("max_doc_id"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.countDistinct("row_idx").cast("long").alias("n_row_idx"),
            F.min("row_idx").cast("long").alias("min_row_idx"),
            F.max("row_idx").cast("long").alias("max_row_idx"),
        )
    )


@register(
    "sql_execute_immediate_report",
    """
WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM events),
g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
  FROM events WHERE user_id % 7 = 0 GROUP BY event_type
)
SELECT g.event_type, g.n, g.sum_cents,
       CAST((1000000 * g.n) // t.total AS BIGINT) AS share_e6
FROM g CROSS JOIN t
""",
)
def sql_execute_immediate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables + EXECUTE IMMEDIATE (Spark 4): the statement
    TEXT lives in a session variable, a scalar prequery lands in another
    via INTO, and the report runs with a USING-bound parameter -- the
    engine-native form of the reference's config-driven query templating
    (and the injection-safe one: parameters bind as values, never splice
    as strings; IDENTIFIER(:p) in sql_frontend_identifier covers the
    name-position case).  DECLARE OR REPLACE keeps re-invocation
    idempotent in a long-lived session."""
    register_views(spark, sf_dir, ["events"])
    spark.sql("DECLARE OR REPLACE VARIABLE total BIGINT")
    spark.sql("EXECUTE IMMEDIATE 'SELECT COUNT(*) FROM events' INTO total")
    spark.sql("DECLARE OR REPLACE VARIABLE rpt STRING")
    spark.sql(
        """
        SET VAR rpt =
          'SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
                  CAST((1000000 * COUNT(*)) div total AS BIGINT) AS share_e6
           FROM events WHERE user_id % ? = 0 GROUP BY event_type'
        """
    )
    return spark.sql("EXECUTE IMMEDIATE rpt USING 7")


def _markov_oracle(iters: int = 8) -> str:
    """Unrolled k-step absorption replay: journeys -> transition counts ->
    (scenario x state) fixed-point iterations in e9 integer arithmetic,
    bit-identical to operators.correlate.markov_removal_attribution."""
    sql = """
WITH r AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
fp AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'purchase' THEN rn END) AS fp
  FROM r GROUP BY user_id
),
kept AS (
  SELECT r.user_id, r.event_type, r.rn, fp.fp,
         ROW_NUMBER() OVER (PARTITION BY r.user_id ORDER BY r.rn) AS crn,
         COUNT(*) OVER (PARTITION BY r.user_id) AS n_user
  FROM r JOIN fp USING (user_id)
  WHERE r.event_type <> 'purchase' AND (fp.fp IS NULL OR r.rn < fp.fp)
),
e_all AS (
  SELECT COALESCE(LAG(event_type) OVER (PARTITION BY user_id ORDER BY rn),
                  'START') AS src,
         event_type AS dst
  FROM kept
  UNION ALL
  SELECT event_type AS src,
         CASE WHEN fp IS NOT NULL THEN 'CONV' ELSE 'NULL' END AS dst
  FROM kept WHERE crn = n_user
  UNION ALL
  SELECT 'START', 'CONV'
  FROM fp f LEFT JOIN (SELECT DISTINCT user_id FROM kept) k USING (user_id)
  WHERE f.fp IS NOT NULL AND k.user_id IS NULL
),
trans AS MATERIALIZED (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS cnt FROM e_all GROUP BY src, dst
),
outs AS MATERIALIZED (SELECT src, SUM(cnt) AS out_cnt FROM trans GROUP BY src),
ch AS MATERIALIZED (SELECT DISTINCT src AS state FROM trans WHERE src <> 'START'),
states AS MATERIALIZED (
  SELECT state FROM ch UNION SELECT 'START' UNION SELECT 'CONV' UNION SELECT 'NULL'
),
scn AS MATERIALIZED (SELECT state AS scn FROM ch UNION SELECT 'base'),
p0 AS MATERIALIZED (
  SELECT s.scn, st.state,
         CAST(CASE WHEN st.state = 'CONV' THEN 1000000000 ELSE 0 END AS BIGINT) AS p
  FROM scn s CROSS JOIN states st
)"""
    for k in range(1, iters + 1):
        sql += f""",
p{k} AS MATERIALIZED (
  SELECT s.scn, st.state,
         CAST(CASE WHEN st.state = 'CONV' THEN 1000000000
                   WHEN st.state = 'NULL' THEN 0
                   WHEN st.state = s.scn THEN 0
                   ELSE COALESCE(n.v, 0) END AS BIGINT) AS p
  FROM scn s CROSS JOIN states st
  LEFT JOIN (
    SELECT pk.scn, t.src, CAST(SUM(t.cnt * pk.p) // MAX(o.out_cnt) AS BIGINT) AS v
    FROM trans t
    JOIN p{k - 1} pk ON pk.state = t.dst
    JOIN outs o ON o.src = t.src
    GROUP BY pk.scn, t.src
  ) n ON n.scn = s.scn AND n.src = st.state
)"""
    sql += f""",
st AS (SELECT scn, p AS conv_e9 FROM p{iters} WHERE state = 'START'),
b AS (SELECT conv_e9 AS base_conv_e9 FROM st WHERE scn = 'base'),
eff AS (
  SELECT st.scn AS channel,
         CAST(b.base_conv_e9 AS BIGINT) AS base_conv_e9,
         CAST(st.conv_e9 AS BIGINT) AS removed_conv_e9,
         CAST(CASE WHEN b.base_conv_e9 > 0
                   THEN (1000000 * (b.base_conv_e9 - st.conv_e9)) // b.base_conv_e9
                   ELSE 0 END AS BIGINT) AS removal_effect_e6
  FROM st CROSS JOIN b WHERE st.scn <> 'base'
),
tot AS (SELECT SUM(removal_effect_e6) AS tot_eff FROM eff)
SELECT channel, base_conv_e9, removed_conv_e9, removal_effect_e6,
       CAST(CASE WHEN tot.tot_eff > 0
                 THEN (1000000 * removal_effect_e6) // tot.tot_eff
                 ELSE 0 END AS BIGINT) AS attribution_share_e6
FROM eff CROSS JOIN tot
"""
    return sql


@register("markov_attribution_report", _markov_oracle(iters=8))
def markov_attribution_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain REMOVAL-EFFECT attribution (Anderl et al. 2016) over
    user journeys: per user, the channel sequence up to the first
    purchase absorbs in CONV (or NULL if none); first-order transition
    counts feed operators.correlate.markov_removal_attribution, which
    runs 8 exact e9 fixed-point absorption steps for the base chain and
    one removal scenario per channel.  This closes the attribution
    family: last-touch/time-window (cogroup_attribution_windows) credits
    the nearest touch, a conversion funnel counts stage survival --
    removal effect answers "how much conversion DISAPPEARS without this
    channel", the counterfactual none of the others measure.

    Heavy work is one pass building journeys (two per-user windows + a
    groupBy over the bounded channel-domain transition lattice); the
    iterations run over a few dozen (scenario x state) rows.  The DuckDB
    oracle unrolls all 8 iterations and matches bit-for-bit."""
    from odp_dynamic_data_pipeline_spark.operators.correlate import (
        markov_removal_attribution,
    )
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = ev.select(
        "user_id", "event_type", F.row_number().over(wu).alias("rn")
    )
    fp = r.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "purchase", F.col("rn"))).alias("fp")
    )
    kept = (
        r.join(fp, "user_id")
        .where(
            (F.col("event_type") != "purchase")
            & (F.col("fp").isNull() | (F.col("rn") < F.col("fp")))
        )
        .select(
            "user_id",
            "event_type",
            "rn",
            "fp",
            F.row_number()
            .over(Window.partitionBy("user_id").orderBy("rn"))
            .alias("crn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("user_id"))
            .alias("n_user"),
        )
    )
    e1 = kept.select(
        F.coalesce(
            F.lag("event_type").over(Window.partitionBy("user_id").orderBy("rn")),
            F.lit("START"),
        ).alias("src"),
        F.col("event_type").alias("dst"),
    )
    e2 = kept.where(F.col("crn") == F.col("n_user")).select(
        F.col("event_type").alias("src"),
        F.when(F.col("fp").isNotNull(), "CONV").otherwise("NULL").alias("dst"),
    )
    e3 = (
        fp.join(kept.select("user_id").distinct(), "user_id", "left_anti")
        .where(F.col("fp").isNotNull())
        .select(F.lit("START").alias("src"), F.lit("CONV").alias("dst"))
    )
    trans = (
        e1.unionByName(e2)
        .unionByName(e3)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return markov_removal_attribution(trans, iters=8)


def _temperature_sweep_oracle() -> str:
    """The CTEs are MATERIALIZED deliberately: with default inlining,
    DuckDB 1.x re-expanded the nested exp2/log2 list_reduce folds through
    the totals join and returned WRONG shares (w_fp20 values correct,
    w_tot inconsistent with their sum -- observed, not hypothetical;
    the same hazard family as the k-core oracle's exponential
    re-inlining, but silent instead of slow).  Materializing pins one
    evaluation of each fold."""
    from odp_dynamic_data_pipeline_spark.queries.llm_text import (
        duck_iexp2_sql,
        duck_ilog2_sql,
    )

    lg = duck_ilog2_sql("n_docs")
    w = duck_iexp2_sql(f"(alpha_fp20 * {lg}) >> 20")
    return f"""
WITH counts AS MATERIALIZED (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
),
a AS (SELECT UNNEST([314573, 734003, 1048576]) AS alpha_fp20),
w AS MATERIALIZED (
  SELECT CAST(a.alpha_fp20 AS BIGINT) AS alpha_fp20, c.lang, c.n_docs,
         CAST({w} AS BIGINT) AS w_fp20
  FROM counts c CROSS JOIN a
),
t AS MATERIALIZED (
  SELECT alpha_fp20, SUM(w_fp20) AS w_tot, SUM(n_docs) AS n_tot
  FROM w GROUP BY alpha_fp20
)
SELECT w.alpha_fp20, w.lang, w.n_docs, w.w_fp20,
       CAST((1000000 * w.w_fp20) // t.w_tot AS BIGINT) AS share_e6,
       CAST((1000000 * w.n_docs) // t.n_tot AS BIGINT) AS exact_share_e6,
       CAST(abs((1000000 * w.w_fp20) // t.w_tot
                - (1000000 * w.n_docs) // t.n_tot) AS BIGINT) AS drift_e6
FROM w JOIN t USING (alpha_fp20)
"""


@register("temperature_mixture_sweep", _temperature_sweep_oracle())
def temperature_mixture_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERAL-alpha temperature sampling shares (Conneau & Lample 2019;
    the mC4/XLM-R rebalancing convention is alpha=0.3): per-language
    sampling weight n^alpha computed as exp2(alpha * log2 n) with BOTH
    transcendentals as exact fixed-point integer folds -- the new
    iexp2_fp20 (functions.scalars.iexp2_fp20_sql) composed with the
    existing ilog2_fp20 -- so shares at alpha = 0.3 / 0.7 / 1.0 are
    bit-identical cross-engine with no pow() anywhere.  This generalizes
    corpus_mixture_weights (hardwired alpha=0.5 via isqrt) to the whole
    temperature dial.  The alpha=1.0 rows double as a built-in accuracy
    audit: their share is compared against the exact n/N share in the
    same row (drift_e6 column -- fp20 truncation error, a few ppm).

    Scale shape: one groupBy over the bounded language domain; the
    sweep is a 3-row explode over that rollup; per-alpha totals join
    back broadcast-small."""
    from odp_dynamic_data_pipeline_spark.functions.scalars import (
        iexp2_fp20_sql,
        ilog2_fp20_sql,
    )

    counts = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    lg = ilog2_fp20_sql("n_docs")
    w_expr = iexp2_fp20_sql(f"shiftright(alpha_fp20 * {lg}, 20)")
    w = (
        counts.select(
            F.explode(
                F.array(F.lit(314573), F.lit(734003), F.lit(1048576))
            ).alias("alpha_raw"),
            "lang",
            "n_docs",
        )
        .select(
            F.col("alpha_raw").cast("long").alias("alpha_fp20"), "lang", "n_docs"
        )
        .withColumn("w_fp20", F.expr(f"CAST({w_expr} AS BIGINT)"))
    )
    t = w.groupBy("alpha_fp20").agg(
        F.sum("w_fp20").alias("w_tot"), F.sum("n_docs").alias("n_tot")
    )
    return w.join(F.broadcast(t), "alpha_fp20").select(
        "alpha_fp20",
        "lang",
        "n_docs",
        "w_fp20",
        F.expr("(1000000 * w_fp20) div w_tot").alias("share_e6"),
        F.expr("(1000000 * n_docs) div n_tot").alias("exact_share_e6"),
        F.expr(
            "abs((1000000 * w_fp20) div w_tot - (1000000 * n_docs) div n_tot)"
        ).alias("drift_e6"),
    )


@register(
    "fim_transform_manifest",
    """
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '\\S+') AS tk
  FROM documents WHERE doc_id % 4 = 0
),
c AS (
  SELECT doc_id, tk, len(tk) AS n,
         ('0x' || substr(md5('fim1|' || doc_id), 1, 15))::BIGINT % (len(tk) + 1) AS h1,
         ('0x' || substr(md5('fim2|' || doc_id), 1, 15))::BIGINT % (len(tk) + 1) AS h2
  FROM t
),
cut AS (
  SELECT doc_id, tk, n, LEAST(h1, h2) AS lo, GREATEST(h1, h2) AS hi FROM c
),
parts AS (
  SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         CAST(lo AS BIGINT) AS cut_lo, CAST(hi AS BIGINT) AS cut_hi,
         COALESCE(array_to_string(tk[1 : lo], ' '), '') AS pre,
         COALESCE(array_to_string(tk[lo + 1 : hi], ' '), '') AS mid,
         -- DuckDB: array_to_string of an out-of-range empty slice (hi = n)
         -- yields NULL, not '' -- Spark's array_join yields ''
         COALESCE(array_to_string(tk[hi + 1 : n], ' '), '') AS suf
  FROM cut
)
SELECT doc_id, n_tokens, cut_lo, cut_hi,
       CAST(len(regexp_extract_all(pre, '\\S+'))
            + len(regexp_extract_all(mid, '\\S+'))
            + len(regexp_extract_all(suf, '\\S+')) AS BIGINT) AS n_reassembled,
       md5('<PRE>' || pre || '<SUF>' || suf || '<MID>' || mid) AS psm_md5
FROM parts
""",
)
def fim_transform_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle (FIM) training transform (Bavarian et al. 2022):
    each selected document is split at two md5-derived token cuts into
    (prefix, middle, suffix) and re-serialized in PSM order with sentinel
    markers -- the manifest a span-infilling pretraining run consumes.
    Hash-derived cuts make the transform REPLAYABLE (a resumed or
    re-sharded job cuts every document identically -- rand() would not),
    and the DuckDB oracle rebuilds the exact PSM string per document, so
    the md5 column hash-verifies the whole reassembly cross-engine.  The
    n_reassembled column carries the losslessness invariant in-row
    (token count preserved across the three spans).

    All JVM expressions: regexp token split, slice/array_join, md5 -- a
    map-only plan with no shuffle and no Python; at 100 TB this runs at
    scan speed, which is the point of doing FIM in the engine instead of
    the training loader."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 4 == 0)
        .select("doc_id", F.expr("regexp_extract_all(text, r'\\S+', 0)").alias("tk"))
    )
    c = docs.select(
        "doc_id",
        "tk",
        F.expr("size(tk)").alias("n"),
        F.expr(
            "CAST(conv(substr(md5(concat('fim1|', CAST(doc_id AS STRING))), 1, 15),"
            " 16, 10) AS BIGINT) % (size(tk) + 1)"
        ).alias("h1"),
        F.expr(
            "CAST(conv(substr(md5(concat('fim2|', CAST(doc_id AS STRING))), 1, 15),"
            " 16, 10) AS BIGINT) % (size(tk) + 1)"
        ).alias("h2"),
    )
    cut = c.select(
        "doc_id",
        "tk",
        "n",
        F.least("h1", "h2").alias("lo"),
        F.greatest("h1", "h2").alias("hi"),
    )
    parts = cut.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("lo").cast("long").alias("cut_lo"),
        F.col("hi").cast("long").alias("cut_hi"),
        F.expr("array_join(slice(tk, 1, CAST(lo AS INT)), ' ')").alias("pre"),
        F.expr(
            "array_join(slice(tk, CAST(lo + 1 AS INT), CAST(hi - lo AS INT)), ' ')"
        ).alias("mid"),
        F.expr(
            "array_join(slice(tk, CAST(hi + 1 AS INT), CAST(n - hi AS INT)), ' ')"
        ).alias("suf"),
    )
    return parts.select(
        "doc_id",
        "n_tokens",
        "cut_lo",
        "cut_hi",
        F.expr(
            "CAST(size(regexp_extract_all(pre, r'\\S+', 0))"
            " + size(regexp_extract_all(mid, r'\\S+', 0))"
            " + size(regexp_extract_all(suf, r'\\S+', 0)) AS BIGINT)"
        ).alias("n_reassembled"),
        F.expr(
            "md5(concat('<PRE>', pre, '<SUF>', suf, '<MID>', mid))"
        ).alias("psm_md5"),
    )
