"""24-hour production rehearsal (VERDICT r9 item 6): the reference's
actual operating mode -- an hourly DAG chain (reference
src/pipeline_dag.py:120-121) -- composed end-to-end at rehearsal scale:

  per hour h in a synthetic day of 24 hourly drops:
    1. the shipped YAML observability pipeline over the hour's
       user_exp/trace/log JSON ({hour} templating: S3/P6), plus the TLB
       per-client metrics sink -- the reference's whole hour;
    2. SIX incremental manifest-store families folded with batch_id =
       hour index (bucketed agg per-client event counts, gap+cap
       sessions, CDC last-page upsert with delete tombstones, term-keyed
       postings stats, composite-key topk totals, incremental CC over the
       client<->page graph) -- every maintained-view family the engine
       ships, riding one day-replay digest (r10 verdict item 6);
    3. every 6 hours, the maintenance window: tombstone expiry, CC remap-
       chain auto-compaction (maybe_compact_incremental_cc, threshold
       sized so the trigger FIRES mid-day -- r10 verdict item 5), vacuum
       of every store (retention must interleave with live folds without
       stranding anything).

Receipts (merged into SCALE_REHEARSAL.json under "day_rehearsal_24h",
summarized in SCALE.md):
  - per-hour wall clock flat: mean(last 6 hours) / mean(first 6 hours)
    ~ 1 -- per-hour cost must be hour-driven, not day-so-far-driven;
  - idempotent replay: the ENTIRE day re-run from the same inputs into a
    fresh root produces content-identical outputs (every hourly stage
    file, every TLB metrics file, every final store state) -- the
    reference's Airflow re-run semantics, which the batch-keyed +
    manifest-flip protocols promise by construction and this measures;
  - bounded retention: after the final vacuum, each store holds only
    manifest-referenced versions (current + parent pointers + mapped
    bucket versions), not one version per hour.

Usage: python tools/day_rehearsal.py [out_json]
  env: SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_HOURS (default 24)
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

DAY = "20241116"
N_CLIENTS = 40
N_TRACES = 30
SPANS_PER_TRACE = 3
LOGS_PER_SPAN = 2


def gen_hour(data_dir: str, hour: str, hidx: int) -> None:
    """One synthetic hourly drop in the reference's exact JSON shapes
    (tests/fixtures/reference_hour/), deterministic from the hour index:
    page_view start/end pairs per client, traces with spans, span logs.
    A third of clients are 'quiet' each hour (rotating), so the TLB
    zero-default universe is exercised every hour.

    Pages are hour-unique (``/p{t}_{hour}``), so in the client<->page
    graph each client's pages stay in its own component -- and each hour
    h >= 1 adds a BRIDGE page visited by clients h-1 and h (mod 40),
    which merges two EXISTING components.  That steady ~1 merge/hour is
    what feeds the incremental-CC remap chain so the auto-compaction
    trigger genuinely fires mid-day (hour-unique pages alone would never
    chain; the old 5 shared pages collapsed everything in hour 0 via
    new-node merges, which do not chain either)."""
    os.makedirs(data_dir, exist_ok=True)
    ue, traces, logs = [], [], []
    for t in range(N_TRACES):
        tid = f"trace_{hour}_{t}"
        c = (t + hidx) % N_CLIENTS
        cid = f"client{c}"
        sec = 5 + (t * 7) % 40
        if c % 3 != hidx % 3:  # active client: a paired page view
            ue.append(
                {
                    "eventId": f"ev_{hour}_{t}_s",
                    "clientId": cid,
                    "traceId": tid,
                    "timestamp": f"2024-11-16T{hour[-2:]}:00:{sec:02d}Z",
                    "page": f"/p{t}_{hour}",
                    "eventType": "page_view_start",
                }
            )
            ue.append(
                {
                    "eventId": f"ev_{hour}_{t}_e",
                    "clientId": cid,
                    "traceId": tid,
                    "timestamp": f"2024-11-16T{hour[-2:]}:01:{sec:02d}Z",
                    "page": f"/p{t}_{hour}",
                    "eventType": "page_view_end",
                }
            )
        else:  # quiet this hour: trace exists, no page view events
            ue.append(
                {
                    "eventId": f"ev_{hour}_{t}_x",
                    "clientId": cid,
                    "traceId": tid,
                    "timestamp": f"2024-11-16T{hour[-2:]}:00:{sec:02d}Z",
                    "page": f"/p{t}_{hour}",
                    "eventType": "heartbeat",
                }
            )
        spans = []
        for s in range(SPANS_PER_TRACE):
            sid = f"span_{hour}_{t}_{s}"
            spans.append({"spanId": sid, "server": f"srv-{s}", "log": f"op {s}"})
            for li in range(LOGS_PER_SPAN):
                lvl = ["INFO", "RETRY", "TIMEOUT", "ERROR"][(t + s + li) % 4]
                logs.append(
                    {
                        "logId": f"log_{hour}_{t}_{s}_{li}",
                        "spanId": sid,
                        "timestamp": f"2024-11-16T{hour[-2:]}:00:{sec:02d}Z",
                        "message": f"m{li}",
                        "level": lvl,
                        "processingTimeMs": 10 + (t + li) % 90,
                        "eventType": lvl,
                    }
                )
        traces.append({"traceId": tid, "spans": spans})
    # bridge visits (see docstring): clients h-1 and h share one page this
    # hour, merging their EXISTING components in the incremental-CC graph
    if hidx >= 1:
        for j, c in enumerate(((hidx - 1) % N_CLIENTS, hidx % N_CLIENTS)):
            for suffix, etype, minute in (("s", "page_view_start", "02"), ("e", "page_view_end", "03")):
                ue.append(
                    {
                        "eventId": f"ev_{hour}_bridge{j}_{suffix}",
                        "clientId": f"client{c}",
                        "traceId": f"trace_{hour}_bridge{j}",
                        "timestamp": f"2024-11-16T{hour[-2:]}:{minute}:00Z",
                        "page": f"/bridge_{hour}",
                        "eventType": etype,
                    }
                )
    for name, rows in (("user_exp", ue), ("trace", traces), ("log", logs)):
        with open(f"{data_dir}/{name}_{hour}.json", "w") as f:
            json.dump(rows, f)


def fold_stores(spark, data_dir: str, stores: str, hour: str, hidx: int) -> None:
    """Fold every manifest-store family with batch_id = hour index (r10
    verdict item 6: ALL maintained views ride the same day-replay digest,
    not just three).  postings and topk are agg-store applications with
    their own key shapes (term-keyed df/cf; composite-key totals); CC
    folds the hour's client<->page bipartite edges through the lazy-union
    label store, whose remap chain the 6-hourly maintenance then
    auto-compacts (maybe_compact_incremental_cc)."""
    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        apply_incremental_agg_batch,
        apply_incremental_cc_batch,
        apply_incremental_sessions_batch,
        apply_incremental_upsert_batch,
    )

    ue = spark.read.option("multiLine", True).json(f"{data_dir}/user_exp_{hour}.json")
    ev = ue.select(
        "clientId",
        "eventId",
        F.to_timestamp("timestamp").alias("ts"),
        "page",
        F.lit(hidx).cast("long").alias("seq"),
        # heartbeat = the client went quiet this hour: CDC DELETE of its
        # last-page row (the tombstone half of the upsert store rides the
        # same day loop as updates)
        (F.col("eventType") == "heartbeat").alias("is_del"),
    )
    apply_incremental_agg_batch(
        ev.select("clientId"), hidx, f"{stores}/agg", key_cols=["clientId"],
        n_buckets=32,
    )
    apply_incremental_sessions_batch(
        ev.select("clientId", "ts"), hidx, f"{stores}/sessions",
        f"{stores}/sessions_out", group_col="clientId", ts_col="ts",
        gap_s=7200, cap_s=6 * 3600, n_buckets=32,
    )
    # eventId is the unique tiebreaker the upsert contract requires: a
    # client has several same-seq rows per hour (paired views + bridge
    # visits on DIFFERENT pages), and without it the winner -- hence the
    # replay digest -- would be partition-order luck
    apply_incremental_upsert_batch(
        ev.select("clientId", "seq", "eventId", "page", "is_del"), hidx, f"{stores}/cdc",
        key_cols=["clientId"], seq_cols=["seq", "eventId"], n_buckets=32,
        delete_col="is_del",
    )
    # postings: term-keyed inverted-index stats over the hour's log levels
    # (each (logId, level) row lives in exactly one drop, so df folds as a
    # count and cf as a sum -- the incremental_postings_stream protocol)
    lg = spark.read.option("multiLine", True).json(f"{data_dir}/log_{hour}.json")
    tok = (
        lg.select(F.col("logId").alias("doc"), F.col("level").alias("t"))
        .groupBy("doc", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    apply_incremental_agg_batch(
        tok.select("t", "tf"), hidx, f"{stores}/postings", key_cols=["t"],
        count_col="df", sum_col="tf", n_buckets=32,
    )
    # topk maintained view: per-(page, client) event totals
    apply_incremental_agg_batch(
        ev.select("page", "clientId"), hidx, f"{stores}/topk",
        key_cols=["page", "clientId"], n_buckets=32,
    )
    # incremental CC: the hour's client<->page bipartite edges -- pages are
    # shared across clients, so components MERGE across hours and the
    # remap chain actually grows (what the auto-compaction trigger needs)
    apply_incremental_cc_batch(
        ev.where(F.col("eventType") != "heartbeat")
        .select(F.col("clientId").alias("id_a"), F.col("page").alias("id_b"))
        .distinct(),
        hidx, f"{stores}/cc", n_buckets=16,
    )


# every manifest-store family the rehearsal maintains: (name, n_extras);
# the CC label store lives under cc/labels
STORE_FAMILIES = (
    ("agg", 0),
    ("sessions", 2),
    ("cdc", 2),
    ("postings", 0),
    ("topk", 0),
    ("cc/labels", 2),
)

# auto-compaction threshold for the CC remap chain: small enough that the
# 24h rehearsal actually TRIGGERS it mid-day (client<->page merges produce
# a few dozen chain entries), so the receipt covers reads across the
# trigger; production uses maybe_compact_incremental_cc's 10k default
CC_MAX_CHAIN = 8


def vacuum_stores(spark, stores: str) -> dict:
    from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore
    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        expire_upsert_tombstones,
        maybe_compact_incremental_cc,
    )

    # delete-retention compaction first (no batch older than the expired
    # tombstones can arrive: folds are hour-ordered), then the CC chain
    # compaction trigger (r10 verdict item 5), then retention
    expire_upsert_tombstones(
        spark, f"{stores}/cdc", key_cols=["clientId"], delete_col="is_del",
        n_buckets=32,
    )
    compacted = maybe_compact_incremental_cc(
        spark, f"{stores}/cc", max_chain=CC_MAX_CHAIN, n_buckets=16
    )
    out = {
        name: len(ManifestStore(spark, f"{stores}/{name}", n_extras=nx).vacuum())
        for name, nx in STORE_FAMILIES
    }
    out["cc_chain_compacted"] = compacted
    return out


def run_day(spark, data_dir: str, root: str, hours: list[str]) -> dict:
    from odp_dynamic_data_pipeline_spark.plans import load_pipeline, tlb_metrics
    from odp_dynamic_data_pipeline_spark.sources.writers import write_keyed_object

    out_dir, stores = f"{root}/out", f"{root}/stores"
    os.makedirs(out_dir, exist_ok=True)
    pipe = load_pipeline(os.path.join(REPO, "pipelines/observability_correlation_pipeline.yaml"))
    walls, compactions = [], []
    for hidx, hour in enumerate(hours):
        t0 = time.time()
        pipe.run(
            spark, hour=hour, path_vars={"data_dir": data_dir, "out_dir": out_dir},
            work_dir=f"{root}/work",
        )
        ue = spark.read.option("multiLine", True).json(f"{data_dir}/user_exp_{hour}.json")
        tr = spark.read.option("multiLine", True).json(f"{data_dir}/trace_{hour}.json")
        lg = spark.read.option("multiLine", True).json(f"{data_dir}/log_{hour}.json")
        keyed = write_keyed_object(tlb_metrics(ue, tr, lg), "clientId")
        with open(f"{out_dir}/tlb_metrics_{hour}.json", "w") as f:
            json.dump(keyed, f, sort_keys=True, default=str)
        fold_stores(spark, data_dir, stores, hour, hidx)
        if hidx % 6 == 5:
            maint = vacuum_stores(spark, stores)
            compactions.append({"hour": hour, **{k: v for k, v in maint.items() if k == "cc_chain_compacted"}})
        walls.append(round(time.time() - t0, 3))
        print(f"[day] hour {hour}: {walls[-1]:.2f}s", file=sys.stderr)
    final_maint = vacuum_stores(spark, stores)
    compactions.append({"hour": "final", "cc_chain_compacted": final_maint["cc_chain_compacted"]})
    return {
        "walls": walls,
        "out_dir": out_dir,
        "stores": stores,
        "cc_compactions": compactions,
    }


def content_digest(spark, out_dir: str, stores: str, hours: list[str]) -> str:
    """Order-insensitive content hash of every hourly output file and the
    final state of ALL maintained stores (agg, sessions, CDC, postings,
    topk, incremental CC)."""
    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        read_incremental_agg,
        read_incremental_cc,
        read_incremental_sessions,
        read_incremental_upsert,
    )

    h = hashlib.sha256()
    for hour in hours:
        for name in ("user_exp_processed", "trace_processed", "log_processed"):
            with open(f"{out_dir}/{name}_{hour}") as f:
                rows = json.load(f)
            for r in sorted(json.dumps(x, sort_keys=True, default=str) for x in rows):
                h.update(r.encode())
        with open(f"{out_dir}/tlb_metrics_{hour}.json") as f:
            h.update(json.dumps(json.load(f), sort_keys=True).encode())
    for df in (
        read_incremental_agg(spark, f"{stores}/agg").select("clientId", "n"),
        read_incremental_sessions(spark, f"{stores}/sessions", f"{stores}/sessions_out"),
        read_incremental_upsert(spark, f"{stores}/cdc", delete_col="is_del").select(
            "clientId", "seq", "page"
        ),
        read_incremental_agg(spark, f"{stores}/postings").select("t", "df", "sum_tf"),
        read_incremental_agg(spark, f"{stores}/topk").select("page", "clientId", "n"),
        read_incremental_cc(spark, f"{stores}/cc", id_col="node"),
    ):
        for r in sorted(str(tuple(x)) for x in df.collect()):
            h.update(r.encode())
    return h.hexdigest()


def cc_matches_batch(spark, data_dir: str, stores: str, hours: list[str]) -> bool:
    """Correctness across the auto-compaction trigger: the incremental CC
    labeling (folded hourly, chain auto-compacted mid-day) must equal the
    one-shot batch min-label CC over the union of ALL edges ever folded."""
    from odp_dynamic_data_pipeline_spark.operators.dedup import connected_components
    from odp_dynamic_data_pipeline_spark.streaming.stream import read_incremental_cc

    ues = spark.read.option("multiLine", True).json(
        [f"{data_dir}/user_exp_{h}.json" for h in hours]
    )
    edges = (
        ues.where(F.col("eventType") != "heartbeat")
        .select(F.col("clientId").alias("id_a"), F.col("page").alias("id_b"))
        .distinct()
    )
    nodes = (
        edges.select(F.col("id_a").alias("node"))
        .unionByName(edges.select(F.col("id_b").alias("node")))
        .distinct()
    )
    # the bridge design chains one merge per hour, so this graph is a
    # PATH of diameter ~2*hours -- min-label propagation needs that many
    # rounds (the operator's default 20-round budget fits dedup-style
    # clique unions, not this worst-case chain; it converged for <=8h
    # smokes and split components at 24h, which is exactly what its
    # RuntimeWarning warns about).  strict=True: a non-converged run
    # must fail the receipt loudly, not report a bogus mismatch.
    batch = connected_components(
        nodes, edges, id_col="node",
        max_iterations=4 * len(hours) + 8, strict=True,
    )
    inc = read_incremental_cc(spark, f"{stores}/cc", id_col="node")
    mismatches = (
        batch.join(inc.withColumnRenamed("component", "inc_comp"), "node", "full")
        .where(
            F.col("component").isNull()
            | F.col("inc_comp").isNull()
            | (F.col("component") != F.col("inc_comp"))
        )
        .count()
    )
    return mismatches == 0


def retention_audit(spark, stores: str) -> dict[str, dict]:
    """Per store: how many version directories remain, and whether every
    one of them is REFERENCED by the manifest (current/parent pointer or
    a bucket-map entry).  The retention contract is not "few versions"
    -- a bucket untouched for hours legitimately keeps its older version
    mapped -- it is "no UNREFERENCED version survives vacuum" plus
    "far fewer versions than folds" (reclamation actually happened)."""
    from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore

    out = {}
    for name, nx in STORE_FAMILIES:
        m = ManifestStore(spark, f"{stores}/{name}", n_extras=nx).read_manifest()
        keep = {m.current, m.parent}
        for bmap in (m.cur_map, m.par_map):
            if bmap:
                keep.update(bmap.values())
        on_disk = {d for d in os.listdir(f"{stores}/{name}") if d.startswith("v")}
        out[name] = {
            "n_versions": len(on_disk),
            "n_referenced": len(keep & on_disk),
            "unreferenced": sorted(on_disk - keep),
        }
    return out


def main() -> None:
    out_path = (
        sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "SCALE_REHEARSAL.json")
    )
    n_hours = int(os.environ.get("SPARK_GRAFT_HOURS", "24"))
    hours = [f"{DAY}{h:02d}" for h in range(n_hours)]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from odp_dynamic_data_pipeline_spark.session import get_spark

    spark = get_spark("day_rehearsal", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    root = tempfile.mkdtemp(prefix="day_rehearsal_")
    try:
        data_dir = f"{root}/in"
        for hidx, hour in enumerate(hours):
            gen_hour(data_dir, hour, hidx)

        r1 = run_day(spark, data_dir, f"{root}/run1", hours)
        d1 = content_digest(spark, r1["out_dir"], r1["stores"], hours)
        vc = retention_audit(spark, r1["stores"])
        cc_ok = cc_matches_batch(spark, data_dir, r1["stores"], hours)
        from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore

        ccm = ManifestStore(spark, f"{r1['stores']}/cc/labels", n_extras=2).read_manifest()
        final_chain_len = len(ccm.extras[0] or []) if ccm and ccm.extras else 0

        r2 = run_day(spark, data_dir, f"{root}/run2", hours)
        d2 = content_digest(spark, r2["out_dir"], r2["stores"], hours)

        walls = r1["walls"]
        k = max(1, len(walls) // 4)
        first, last = sum(walls[:k]) / k, sum(walls[-k:]) / k
        row = {
            "hours": len(hours),
            "per_hour_walls": walls,
            "mean_first_quarter_s": round(first, 3),
            "mean_last_quarter_s": round(last, 3),
            "flatness_ratio": round(last / first, 3),
            "replay_digest_run1": d1,
            "replay_digest_run2": d2,
            "replay_identical": d1 == d2,
            "store_retention_after_vacuum": vc,
            "cc_matches_oneshot_batch": cc_ok,
            "cc_chain_compactions": r1["cc_compactions"],
            "cc_final_chain_len": final_chain_len,
            "cc_auto_compact_threshold": CC_MAX_CHAIN,
            "axis": "hour-chain (pipeline + TLB + 6 incremental store families + 6-hourly maintenance: tombstone expiry, CC chain auto-compaction, vacuum)",
        }
        assert d1 == d2, f"replay digests differ: {d1} vs {d2}"
        assert cc_ok, "incremental CC diverged from one-shot batch CC"
        # the chain-length bound receipt: auto-compaction fired at least
        # once and left the final chain at most threshold + one
        # maintenance window's merges.  Only meaningful at >= 12 hours
        # (~1 existing-comp merge/hour from hour 2; a short smoke run
        # never crosses CC_MAX_CHAIN and must not fail for it).
        if len(hours) >= 12:
            assert any(
                c["cc_chain_compacted"] > 0 for c in r1["cc_compactions"]
            ), f"auto-compaction never triggered: {r1['cc_compactions']}"
        for name, a in vc.items():
            assert not a["unreferenced"], f"{name}: vacuum stranded ghosts {a}"
            assert a["n_versions"] < len(hours), f"{name}: no reclamation {a}"

        doc = {"queries": {}}
        if os.path.exists(out_path):
            try:
                with open(out_path) as f:
                    doc = json.load(f)
            except Exception:  # noqa: BLE001
                doc = {"queries": {}}
        doc.setdefault("queries", {})["day_rehearsal_24h"] = row
        with open(out_path, "w") as f:
            f.write(json.dumps(doc) + "\n")
        print(json.dumps(row))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
