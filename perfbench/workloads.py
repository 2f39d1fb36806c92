"""The benchmark workloads: what one batch runs, how its output is checked,
and how its operators' self times are taken in the traced run.

A batch is one hourly drop (``obs_*``) or one corpus shard (``corpus``).
Inputs are generated before a batch starts and checked after it ends;
neither counts toward any timing.  ``tr`` is the tracer of the traced run
or :class:`NoTrace`.
"""

from __future__ import annotations

import contextlib
import os

from perfbench import gen, oracle
from perfbench.tracing import noop_seconds, self_time

YAML_DIR = "pipelines"
OBS_YAML = f"{YAML_DIR}/observability_correlation_pipeline.yaml"
CORPUS_YAML = f"{YAML_DIR}/corpus_curation_pipeline.yaml"


class NoTrace:
    def span(self, name, *, layer=False):
        return contextlib.nullcontext()


class ObsWorkload:
    """Hourly drops through the observability YAML with a stable work dir
    (so its streaming stage drains incrementally), then TLB metrics
    written as a keyed object."""

    def __init__(self, seed, root, *, n_events, n_clients, client_skew, first_hour, tie=False):
        self.seed, self.root = seed, root
        self.shape = {"n_events": n_events, "n_clients": n_clients, "client_skew": client_skew, "tie": tie}
        self.first_hour = first_hour
        self.data, self.out, self.work = f"{root}/in", f"{root}/out", f"{root}/work"

    def prepare(self, i: int) -> dict:
        hidx = self.first_hour + i
        made = gen.write_obs_hour(self.data, self.seed, hidx, **self.shape)
        return {**made, "hidx": hidx}

    def run_batch(self, spark, inp: dict, tr) -> dict:
        from odp_dynamic_data_pipeline_spark.plans import load_pipeline, tlb_metrics
        from odp_dynamic_data_pipeline_spark.sources import readers, schemas, writers

        hour = inp["hour"]
        with tr.span("plans.pipeline_run"):
            pipe = load_pipeline(OBS_YAML)
            pipe.run(
                spark, hour=hour,
                path_vars={"data_dir": self.data, "out_dir": self.out},
                work_dir=self.work,
            )
        with tr.span("plans.tlb", layer=True):
            ue = readers.read_json(spark, f"{self.data}/user_exp_{hour}.json", schemas.USER_EXP_SCHEMA)
            trc = readers.read_json(spark, f"{self.data}/trace_{hour}.json", schemas.TRACE_SCHEMA)
            lg = readers.read_json(spark, f"{self.data}/log_{hour}.json", schemas.LOG_SCHEMA)
            keyed = writers.write_keyed_object(
                tlb_metrics(ue, trc, lg), "clientId", f"{self.out}/tlb_metrics/{hour}.json"
            )
        return {"tlb": keyed}

    def check(self, inp: dict, out: dict) -> list[str]:
        import json

        stage_out = {}
        for name in oracle.STAGE_FILES:
            with open(f"{self.out}/{name}_{inp['hour']}") as f:
                stage_out[name] = json.load(f)
        return oracle.check_obs_hour(inp["rows"], stage_out, out["tlb"])

    def self_times(self, spark, inp: dict) -> dict[str, float]:
        """Self time of each observability operator on this hour's data:
        noop-materialize the operator's output and subtract its inputs."""
        from odp_dynamic_data_pipeline_spark.operators import (
            correlate_events_logs,
            enrich,
            extract_mapping,
            pair_page_views,
        )
        from odp_dynamic_data_pipeline_spark.sources import readers, schemas

        hour = inp["hour"]

        def t(df):
            return noop_seconds(df, reps=3)

        ue = readers.read_json(spark, f"{self.data}/user_exp_{hour}.json", schemas.USER_EXP_SCHEMA)
        trc = readers.read_json(spark, f"{self.data}/trace_{hour}.json", schemas.TRACE_SCHEMA)
        lg = readers.read_json(spark, f"{self.data}/log_{hour}.json", schemas.LOG_SCHEMA)
        m1 = extract_mapping(ue, "traceId", ["clientId"])
        tr_e = enrich(trc, m1, key_col="traceId", mapping_key="key")
        m2 = extract_mapping(tr_e, "spans.spanId", ["traceId", "clientId"])
        lg_e = enrich(lg, m2, key_col="spanId", mapping_key="key")
        ev = schemas.with_event_time(ue)
        pv = pair_page_views(ev, tiebreak_col="eventId")
        ue_c, lg_c = ue.select("clientId", "traceId"), lg.select("spanId", "eventType")
        corr = correlate_events_logs(ue_c, trc, lg_c)
        w = {name: t(df) for name, df in (
            ("ue", ue), ("trc", trc), ("lg", lg), ("m1", m1), ("tr_e", tr_e), ("m2", m2),
            ("lg_e", lg_e), ("ev", ev), ("pv", pv), ("ue_c", ue_c), ("lg_c", lg_c), ("corr", corr),
            ("job", spark.range(1)),
        )}

        def st(out, *ins):
            return self_time(w[out], [w[i] for i in ins], w["job"])

        return {
            "operators.extract_mapping_s": st("m1", "ue") + st("m2", "tr_e"),
            "operators.enrich_s": st("tr_e", "trc", "m1") + st("lg_e", "lg", "m2"),
            "operators.pair_page_views_s": st("pv", "ev"),
            "operators.correlate_s": st("corr", "ue_c", "trc", "lg_c"),
        }


# store folds, parameters as in tools/day_rehearsal.py
STORE_FAMILIES = (
    ("agg", 0),
    ("sessions", 2),
    ("cdc", 2),
    ("postings", 0),
    ("topk", 0),
    ("cc/labels", 2),
)
GAP_S, CAP_S = 7200, 6 * 3600
CC_MAX_CHAIN = 8
MAINTENANCE_EVERY = 6


class StoreFolds:
    """The six maintained-store folds of tools/day_rehearsal.py (agg,
    sessions, CDC upsert, postings, topk, CC) over hours an
    :class:`ObsWorkload` has written, with maintenance (tombstone expiry,
    CC compaction, vacuum) after every 6th hour of the day."""

    def __init__(self, data_dir: str, store_dir: str):
        self.data, self.store_dir = data_dir, store_dir
        self.folded: list[tuple[int, dict]] = []

    def fold(self, spark, inp: dict, tr) -> None:
        from pyspark.sql import functions as F

        from odp_dynamic_data_pipeline_spark.sources import readers, schemas
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            apply_incremental_agg_batch,
            apply_incremental_cc_batch,
            apply_incremental_sessions_batch,
            apply_incremental_upsert_batch,
        )

        s, hour, hidx = self.store_dir, inp["hour"], inp["hidx"]
        ue = readers.read_json(spark, f"{self.data}/user_exp_{hour}.json", schemas.USER_EXP_SCHEMA)
        ev = schemas.with_event_time(ue, dst_col="ts").select(
            "clientId", "eventId", "ts", "page", "eventType",
            F.lit(hidx).cast("long").alias("seq"),
            (F.col("eventType") == gen.DELETE_EVENT).alias("is_del"),
        )
        with tr.span("streaming.fold.agg", layer=True):
            apply_incremental_agg_batch(
                ev.select("clientId"), hidx, f"{s}/agg", key_cols=["clientId"], n_buckets=32
            )
        with tr.span("streaming.fold.sessions", layer=True):
            apply_incremental_sessions_batch(
                ev.select("clientId", "ts"), hidx, f"{s}/sessions", f"{s}/sessions_out",
                group_col="clientId", ts_col="ts", gap_s=GAP_S, cap_s=CAP_S, n_buckets=32,
            )
        with tr.span("streaming.fold.cdc", layer=True):
            apply_incremental_upsert_batch(
                ev.select("clientId", "seq", "eventId", "page", "is_del"), hidx, f"{s}/cdc",
                key_cols=["clientId"], seq_cols=["seq", "eventId"], n_buckets=32,
                delete_col="is_del",
            )
        with tr.span("streaming.fold.postings", layer=True):
            lg = readers.read_json(spark, f"{self.data}/log_{hour}.json", schemas.LOG_SCHEMA)
            tok = (
                lg.select(F.col("logId").alias("doc"), F.col("level").alias("t"))
                .groupBy("doc", "t")
                .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            )
            apply_incremental_agg_batch(
                tok.select("t", "tf"), hidx, f"{s}/postings", key_cols=["t"],
                count_col="df", sum_col="tf", n_buckets=32,
            )
        with tr.span("streaming.fold.topk", layer=True):
            apply_incremental_agg_batch(
                ev.select("page", "clientId"), hidx, f"{s}/topk",
                key_cols=["page", "clientId"], n_buckets=32,
            )
        with tr.span("streaming.fold.cc", layer=True):
            apply_incremental_cc_batch(
                ev.where(~F.col("is_del"))
                .select(F.col("clientId").alias("id_a"), F.col("page").alias("id_b"))
                .distinct(),
                hidx, f"{s}/cc", n_buckets=16,
            )
        self.folded.append((hidx, inp["rows"]))
        if hidx % MAINTENANCE_EVERY == MAINTENANCE_EVERY - 1:
            with tr.span("streaming.maintenance", layer=True):
                self._maintain(spark)

    def _maintain(self, spark) -> None:
        from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            expire_upsert_tombstones,
            maybe_compact_incremental_cc,
        )

        s = self.store_dir
        expire_upsert_tombstones(
            spark, f"{s}/cdc", key_cols=["clientId"], delete_col="is_del", n_buckets=32
        )
        maybe_compact_incremental_cc(spark, f"{s}/cc", max_chain=CC_MAX_CHAIN, n_buckets=16)
        for name, nx in STORE_FAMILIES:
            ManifestStore(spark, f"{s}/{name}", n_extras=nx).vacuum()

    def check(self, spark) -> list[str]:
        """Final store contents against a one-shot recount."""
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            read_incremental_agg,
            read_incremental_cc,
            read_incremental_sessions,
            read_incremental_upsert,
        )

        s = self.store_dir
        got = {
            "agg": {r[0]: r[1] for r in read_incremental_agg(spark, f"{s}/agg").select("clientId", "n").collect()},
            "sessions": {
                tuple(r)
                for r in read_incremental_sessions(spark, f"{s}/sessions", f"{s}/sessions_out")
                .select("clientId", "session_n", "n_events", "start_us", "end_us")
                .collect()
            },
            "cdc": {
                r[0]: (r[1], r[2])
                for r in read_incremental_upsert(spark, f"{s}/cdc", delete_col="is_del")
                .select("clientId", "seq", "page")
                .collect()
            },
            "postings": {
                r[0]: (r[1], r[2])
                for r in read_incremental_agg(spark, f"{s}/postings").select("t", "df", "sum_tf").collect()
            },
            "topk": {
                (r[0], r[1]): r[2]
                for r in read_incremental_agg(spark, f"{s}/topk").select("page", "clientId", "n").collect()
            },
            "cc": {r[0]: r[1] for r in read_incremental_cc(spark, f"{s}/cc", id_col="node").collect()},
        }
        want = oracle.expected_stores(
            self.folded, delete_event=gen.DELETE_EVENT, gap_s=GAP_S, cap_s=CAP_S
        )
        return oracle.check_stores(got, want)

    def size(self) -> tuple[int, int]:
        """(bytes, files) of the stores on disk."""
        n_bytes = n_files = 0
        for dirpath, _, files in os.walk(self.store_dir):
            for name in files:
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, name))
        return n_bytes, n_files


# corpus transform op -> per-layer metric name
CORPUS_OPS = {
    "quality": "operators.quality_s",
    "scrub_pii": "operators.scrub_pii_s",
    "fingerprint": "operators.fingerprint_s",
    "dedup_exact": "operators.exact_dedup_s",
    "chunk": "operators.chunk_s",
    "with_char_entropy": "operators.char_entropy_s",
    "weighted_sample": "operators.weighted_sample_s",
    "allocate_token_budget": "operators.allocate_token_budget_s",
    "random_projection": "operators.random_projection_s",
    "quantize_int8": "operators.quantize_int8_s",
}


# shard size: an assumption, sized so that a run holds several warm
# shards within the benchmark's time budget
N_DOCS, N_EMB = 400, 200


class CorpusWorkload:
    """Corpus shards through the ``curate`` stage of
    corpus_curation_pipeline.yaml to parquet, then MinHash-LSH
    near-duplicate pairs.  The YAML's other stages (budget, vectors,
    entropy_sample) are written by :meth:`other_stages`, which the traced
    run calls once."""

    def __init__(self, seed, root, *, n_docs, n_emb, pii_share=0.0):
        import yaml

        self.seed, self.root = seed, root
        self.n_docs, self.n_emb, self.pii_share = n_docs, n_emb, pii_share
        with open(CORPUS_YAML) as f:
            self.spec = yaml.safe_load(f)

    def prepare(self, i: int) -> dict:
        shard_dir = f"{self.root}/shards/{i}"
        made = gen.write_corpus_shard(
            shard_dir, self.seed, i, n_docs=self.n_docs, n_emb=self.n_emb, pii_share=self.pii_share
        )
        return {**made, "dir": shard_dir, "out": f"{self.root}/out/{i}"}

    def _write_stages(self, spark, inp: dict, names: tuple[str, ...], tr) -> None:
        """Compile the named stages of the YAML on this shard and write
        each to parquet."""
        from odp_dynamic_data_pipeline_spark.plans.pipeline import Pipeline
        from odp_dynamic_data_pipeline_spark.sources import writers

        pipe = Pipeline({**self.spec, "stages": {n: self.spec["stages"][n] for n in names}})
        outs, _ = pipe.compile(spark, path_vars={"sf": inp["dir"]})
        for name in pipe.order:
            with tr.span(f"plans.stage.{name}"):
                writers.write_parquet(outs[name], f"{inp['out']}/{name}")

    def run_batch(self, spark, inp: dict, tr) -> dict:
        from odp_dynamic_data_pipeline_spark.operators.dedup import minhash_lsh_pairs
        from odp_dynamic_data_pipeline_spark.sources import readers

        self._write_stages(spark, inp, ("curate",), tr)
        with tr.span("operators.minhash_lsh_pairs", layer=True):
            docs = readers.read_parquet(spark, f"{inp['dir']}/documents.parquet")
            pairs = [
                tuple(r)
                for r in minhash_lsh_pairs(docs, "doc_id", "text")
                .select("id_a", "id_b", "inter", "uni", "jaccard_e6")
                .collect()
            ]
        return {"pairs": pairs}

    def check(self, inp: dict, out: dict) -> list[str]:
        import pyarrow.parquet as pq

        curate = pq.read_table(f"{inp['out']}/curate", columns=["doc_id", "chunk_text"])
        got = {
            "curate_ids": set(curate.column("doc_id").to_pylist()),
            "curate_chunks": curate.num_rows,
            "chunk_tokens": {t for c in curate.column("chunk_text").to_pylist() for t in c.split()},
            "pairs": out["pairs"],
        }
        return oracle.check_corpus_shard(inp, got)

    def other_stages(self, spark, inp: dict, tr) -> list[str]:
        """Write the budget, vectors and entropy_sample stages of this
        shard and check them; returns the mismatches."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        self._write_stages(spark, inp, ("budget", "vectors", "entropy_sample"), tr)
        o = inp["out"]
        sample = pq.read_table(f"{o}/entropy_sample").column("lang").to_pylist()
        got = {
            "budget_sum": pc.sum(pq.read_table(f"{o}/budget", columns=["quota_tokens"]).column(0)).as_py(),
            "vector_rows": pq.read_table(f"{o}/vectors", columns=["vec_id"]).num_rows,
            "sample_sizes": {k: sample.count(k) for k in set(sample)},
        }
        return oracle.check_other_stages(inp, got)

    def self_times(self, spark, inp: dict) -> dict[str, float]:
        """Per transform: noop-materialize each stage truncated after that
        transform and subtract the stage truncated before it."""
        from odp_dynamic_data_pipeline_spark.plans.pipeline import Pipeline

        out = {name: 0.0 for name in CORPUS_OPS.values()}
        for stage, st in self.spec["stages"].items():
            transforms = st.get("transforms") or []
            prev = None
            for k in range(len(transforms) + 1):
                sub = {"pipeline_name": "prefix", "stages": {stage: {**st, "transforms": transforms[:k]}}}
                outs, _ = Pipeline(sub).compile(spark, path_vars={"sf": inp["dir"]})
                wall = noop_seconds(outs[stage])
                if k and transforms[k - 1]["op"] in CORPUS_OPS:
                    out[CORPUS_OPS[transforms[k - 1]["op"]]] += self_time(wall, [prev], 0.0)
                prev = wall
        return out


# Workloads outside BENCHMARK.json.  Each exposes a known defect of the
# program, so its runs report correct=false until that defect is fixed:
# * obs_bulk: dense hours hold same-second end -> start pairs, which
#   operators.sessionize.pair_page_views drops (it compares the previous
#   start and end by timestamp alone);
# * obs_ties: obs_trickle with one such pair planted in every hour;
# * corpus_pii: corpus with 5% of documents carrying an e-mail address and
#   a phone number, which reach the chunks because the curate stage's
#   chunk op reads ``text``, not scrub_pii's ``scrubbed``.
UNLISTED = ("obs_bulk", "obs_ties", "corpus_pii")
PII_SHARE = 0.05


def make(name: str, seed: int, root: str):
    if name in ("obs_trickle", "obs_ties"):
        # the reference hour's size and client count; hours 04.. of the
        # synthetic day, so the second hour (05) ends a 6-hour maintenance
        # window when the traced run folds the stores
        return ObsWorkload(
            seed, root, n_events=15, n_clients=3, client_skew=0.0, first_hour=4, tie=name == "obs_ties"
        )
    if name == "obs_bulk":
        return ObsWorkload(seed, root, n_events=20000, n_clients=2000, client_skew=1.1, first_hour=0)
    if name in ("corpus", "corpus_pii"):
        return CorpusWorkload(
            seed, root, n_docs=N_DOCS, n_emb=N_EMB, pii_share=PII_SHARE if name == "corpus_pii" else 0.0
        )
    raise ValueError(f"unknown workload {name!r}")
