"""Operator-backed queries over the dedup graph, entity resolution, the
streaming runner and the Python data sources.

Each query drives package code: the dedup-graph operators (k-core, label
propagation, link prediction, cluster-aware splits), SNM blocking and
survivorship, the edit-distance join, ``streaming.stream`` replays and
state introspection, the Python stream source and sink, the bucketed
writer, the CSV quarantine path, the KS / Mann-Whitney / exact-quantile
statistics on ``partitioning.global_prefix_sum``, Markov removal-effect
attribution, and fixed-point temperature sampling.

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
    per-partition batch sketches do.

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
    """Time-window attribution (each purchase credited with the user's
    views in the hour before it) as a STREAM, via CHAINED
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
    stateless batch decoration.  There is deliberately no gap-since-last-
    view column: a gap over unbounded history is not watermark-boundable.
    Same deterministic user thinning as stream_stream_join_pairs keeps
    pair counts proportional."""
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
    catches shape changes (bimodality, tail shifts) that a comparison of
    means or centroids cannot.  D = max |F_a(x) - F_b(x)|
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
    from odp_dynamic_data_pipeline_spark.queries.core import _stream_tmpdir
    from odp_dynamic_data_pipeline_spark.sources.writers import write_bucketed_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)").alias("price_cents"),
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    tmp = _stream_tmpdir("bucketed_join")
    write_bucketed_table(li, f"{tmp}/li", "odp_li_bkt", "l_orderkey", num_buckets=8)
    write_bucketed_table(o, f"{tmp}/ord", "odp_ord_bkt", "o_orderkey", num_buckets=8)
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
    the same row counts a batch ``df.observe`` reports.  The audit rides the
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
    # operands promoted to DECIMAL(38,0) BEFORE multiplying: c_a * c_cum
    # products pass int64 once the corpus passes
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
    family: last-touch/time-window attribution credits
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
