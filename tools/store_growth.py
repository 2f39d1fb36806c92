"""Store-growth rehearsal for the manifest-store folds: measure
per-batch wall clock at FIXED batch size while the store grows
1x -> 30x.

The batch-scale rehearsal (tools/scale_rehearsal.py) grows the DATA and
measures the whole run; this harness isolates the other axis the
"per-batch cost is batch-driven" docstring claims depend on: a
long-lived stream whose store has accreted months of history must not
pay more per arriving batch than a young one.  Protocol per family:

  1. write the store in the fold's own layout (state rows + manifest),
     scaled by m (the store-growth axis);
  2. stream ONE fixed-size batch (AvailableNow, fresh checkpoint) and
     time the fold end-to-end.

Fixed per-batch machinery (micro-batch planning, checkpoint writes,
parquet commit) is ~1-2 s on this container and flattens exponents
toward 0, so the artifact records the raw per-scale times AND the
t(max)/t(1) ratio alongside the LSQ exponent -- read the ratio, not
just the slope.  A truly store-driven cost shows up as ratio >> 1.

Usage: python tools/store_growth.py [out_json] [family ...]
  families: agg_bucketed sessions postings topk upsert
  env: SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_SCALES (default "1,3,10,30")
Merges rows keyed store_growth_<family> into SCALE_REHEARSAL.json.
"""
from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.types import (  # noqa: E402
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

KV_SCHEMA = StructType(
    [StructField("g", StringType()), StructField("v", LongType())]
)

# filler rows at m=1 (the store-growth unit)
BASE = {
    "agg": 100_000,  # aggregate-store keys
    "sessions": 100_000,  # open-session users
}


def _write_stream_file(rows, path: str, spark, schema) -> None:
    df = spark.createDataFrame(rows, schema).coalesce(1)
    tmp = f"{path}__tmp"
    df.write.mode("overwrite").parquet(tmp)
    (part,) = [f for f in os.listdir(tmp) if f.startswith("part-")]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    shutil.move(f"{tmp}/{part}", path)
    shutil.rmtree(tmp)


def _read_stream(spark, src: str, schema):
    return (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 10).parquet(src)
    )


class Family:
    """One store fold: filler writer, timed run, check."""

    name: str
    schema: StructType

    def batch_rows(self):  # fixed across scales
        raise NotImplementedError

    def run(self, spark, stream, store: str, out: str, ck: str) -> None:
        raise NotImplementedError

    def write_filler(self, spark, store: str, m: int) -> None:
        raise NotImplementedError

    def prepare_template(self, spark, root: str) -> str:
        """Empty store/out template dir; write_filler fills the store."""
        tdir = f"{root}/{self.name}/template"
        os.makedirs(f"{tdir}/store", exist_ok=True)
        os.makedirs(f"{tdir}/out", exist_ok=True)
        return tdir

    def check(self, spark, rdir: str) -> None:
        """Assert the batch actually folded into the grown store
        (flat-but-empty is not a receipt); run once on the warm pass.
        Receives the run dir (store/ and out/ inside)."""
        raise NotImplementedError

    def timed_run(
        self, spark, root: str, tdir: str, m: int, tag: str, verify: bool = False
    ) -> float:
        rdir = f"{root}/{self.name}/m{m}_{tag}"
        shutil.copytree(tdir, rdir)
        self.write_filler(spark, f"{rdir}/store", m)
        _write_stream_file(
            self.batch_rows(), f"{rdir}/in/b.parquet", spark, self.schema
        )
        stream = _read_stream(spark, f"{rdir}/in", self.schema)
        t0 = time.time()
        self.run(spark, stream, f"{rdir}/store", f"{rdir}/out", f"{rdir}/ck")
        dt = time.time() - t0
        if verify:
            self.check(spark, rdir)
        shutil.rmtree(rdir)
        return dt


class AggBucketed(Family):
    """run_incremental_agg with the r9 bucketed delta-merge: the store is
    a manifest-versioned per-key aggregate over m*100k keys; the fixed
    batch touches 50 keys (~49 of 1024 buckets), so per-batch IO is
    touched_buckets * bucket_size = ~5%% of the store -- the B knob
    shrinks the constant."""

    name = "agg_bucketed"
    schema = KV_SCHEMA
    NB = 1024

    def write_filler(self, spark, store, m):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            apply_incremental_agg_batch,
        )

        hist = spark.range(BASE["agg"] * m).select(
            F.concat(F.lit("k"), F.col("id").cast("string")).alias("g"),
            F.lit(1).cast("long").alias("v"),
        )
        apply_incremental_agg_batch(
            hist, -1, store, key_cols=["g"], sum_col="v", n_buckets=self.NB
        )

    def batch_rows(self):
        return [(f"k{i}", 2) for i in range(50)]

    def run(self, spark, stream, store, out, ck):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            run_incremental_agg,
        )

        run_incremental_agg(
            stream, store, checkpoint=ck, key_cols=["g"], sum_col="v",
            n_buckets=self.NB,
        )

    def check(self, spark, rdir):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            read_incremental_agg,
        )

        rows = {
            r.g: (r.n, r.sum_v)
            for r in read_incremental_agg(spark, f"{rdir}/store")
            .where(F.col("g").isin([f"k{i}" for i in range(50)]))
            .collect()
        }
        assert all(v == (2, 3) for v in rows.values()) and len(rows) == 50, rows


class Postings(AggBucketed):
    """run_incremental_agg in the POSTINGS shape (incremental inverted-
    index stats, queries.core incremental_postings_stream): term-keyed
    (df, cf) maintained in the bucketed store over m*100k vocabulary
    terms; the fixed batch touches 50 terms."""

    name = "postings"

    def write_filler(self, spark, store, m):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            apply_incremental_agg_batch,
        )

        hist = spark.range(BASE["agg"] * m).select(
            F.concat(F.lit("t"), F.col("id").cast("string")).alias("g"),
            F.lit(1).cast("long").alias("v"),
        )
        apply_incremental_agg_batch(
            hist, -1, store, key_cols=["g"], count_col="df", sum_col="v",
            n_buckets=self.NB,
        )

    def batch_rows(self):
        return [(f"t{i}", 3) for i in range(50)]

    def run(self, spark, stream, store, out, ck):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            run_incremental_agg,
        )

        run_incremental_agg(
            stream, store, checkpoint=ck, key_cols=["g"],
            count_col="df", sum_col="v", n_buckets=self.NB,
        )

    def check(self, spark, rdir):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            read_incremental_agg,
        )

        rows = {
            r.g: (r.df, r.sum_v)
            for r in read_incremental_agg(spark, f"{rdir}/store")
            .where(F.col("g").isin([f"t{i}" for i in range(50)]))
            .collect()
        }
        assert len(rows) == 50 and all(v == (2, 4) for v in rows.values()), rows


TOPK_SCHEMA = StructType(
    [
        StructField("et", StringType()),
        StructField("u", LongType()),
        StructField("v", LongType()),
    ]
)


class Topk(Family):
    """The maintained-view half of incremental_topk_stream: composite
    (event_type, user) cent totals in the bucketed store over m*100k
    users x 2 types; the cheap read-time rank is not part of the fold
    cost and is excluded (it runs over the store READ, once, at serve
    time)."""

    name = "topk"
    schema = TOPK_SCHEMA
    NB = 1024

    def write_filler(self, spark, store, m):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            apply_incremental_agg_batch,
        )

        hist = spark.range(BASE["agg"] * m).select(
            F.when(F.col("id") % 2 == 0, F.lit("view")).otherwise(F.lit("buy")).alias("et"),
            F.col("id").alias("u"),
            F.lit(10).cast("long").alias("v"),
        )
        apply_incremental_agg_batch(
            hist, -1, store, key_cols=["et", "u"], sum_col="v", n_buckets=self.NB
        )

    def batch_rows(self):
        return [("view" if i % 2 == 0 else "buy", i, 7) for i in range(50)]

    def run(self, spark, stream, store, out, ck):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            run_incremental_agg,
        )

        run_incremental_agg(
            stream, store, checkpoint=ck, key_cols=["et", "u"], sum_col="v",
            n_buckets=self.NB,
        )

    def check(self, spark, rdir):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            read_incremental_agg,
        )

        rows = {
            r.u: (r.n, r.sum_v)
            for r in read_incremental_agg(spark, f"{rdir}/store")
            .where(F.col("u") < 50)
            .collect()
        }
        assert len(rows) == 50 and all(v == (2, 17) for v in rows.values()), rows


CDC_SCHEMA = StructType(
    [
        StructField("k", StringType()),
        StructField("seq", LongType()),
        StructField("val", StringType()),
    ]
)


class Upsert(Family):
    """run_incremental_upsert (CDC last-wins table): ONE row per key over
    m*100k keys in the bucketed store; the fixed batch updates 50 stored
    keys and inserts 10 new ones.  Store filler is written in the
    operator's own layout (state rows + 6-line manifest) -- the aged
    table a long-lived CDC stream accretes."""

    name = "upsert"
    schema = CDC_SCHEMA
    NB = 1024

    def write_filler(self, spark, store, m):
        from odp_dynamic_data_pipeline_spark.streaming.kvstore import (
            ManifestStore,
            bucket_col,
        )

        state = spark.range(BASE["agg"] * m).select(
            F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
            F.lit(1).cast("long").alias("seq"),
            F.lit("h").alias("val"),
        ).withColumn("bucket", bucket_col(["k"], self.NB))
        state.write.partitionBy("bucket").mode("overwrite").parquet(f"{store}/v-1")
        ManifestStore(spark, store, n_extras=2).write_manifest(
            "v-1", "-", {str(i): "v-1" for i in range(self.NB)}, None, [None, None]
        )

    def batch_rows(self):
        return [(f"k{i}", 2, "upd") for i in range(50)] + [
            (f"n{i}", 1, "new") for i in range(10)
        ]

    def run(self, spark, stream, store, out, ck):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            run_incremental_upsert,
        )

        run_incremental_upsert(
            stream, store, checkpoint=ck, key_cols=["k"], seq_cols=["seq"],
            n_buckets=self.NB,
        )

    def check(self, spark, rdir):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            read_incremental_upsert,
        )

        rows = {
            r.k: (r.seq, r.val)
            for r in read_incremental_upsert(spark, f"{rdir}/store")
            .where(F.col("k").isin([f"k{i}" for i in range(50)] + ["n0", "n9"]))
            .collect()
        }
        assert all(rows[f"k{i}"] == (2, "upd") for i in range(50)), rows
        assert rows["n0"] == (1, "new") and rows["n9"] == (1, "new"), rows


SESS_SCHEMA = StructType(
    [StructField("user_id", LongType()), StructField("ts", TimestampType())]
)
SESS_T0 = 1_700_000_000_000_000  # epoch us


class Sessions(Family):
    """run_incremental_sessions: the store is ONE open session per user
    over m*100k users in 1024 hash buckets; the fixed batch touches 50
    stored users (continuations) + 10 new ones (~58 of 1024 buckets), so
    per-batch IO is touched_buckets/1024 of the store.  Store filler is
    written in the operator's own layout (state rows + manifest) -- the
    aged-store shape a long-lived stream accretes."""

    name = "sessions"
    schema = SESS_SCHEMA
    NB = 1024

    def write_filler(self, spark, store, m):
        from odp_dynamic_data_pipeline_spark.streaming.kvstore import (
            ManifestStore,
            bucket_col,
        )

        state = spark.range(BASE["sessions"] * m).select(
            F.col("id").alias("user_id"),
            F.lit(1).cast("long").alias("session_n"),
            F.lit(3).cast("long").alias("n_events"),
            F.lit(SESS_T0).cast("long").alias("start_us"),
            F.lit(SESS_T0 + 3_600_000_000).cast("long").alias("last_us"),
            bucket_col(["id"], self.NB).alias("bucket"),
        )
        state.write.partitionBy("bucket").mode("overwrite").parquet(f"{store}/v-1")
        ManifestStore(spark, store, n_extras=2).write_manifest(
            "v-1", "-", {str(k): "v-1" for k in range(self.NB)}, None,
            [SESS_T0 + 3_600_000_000, None],
        )

    def batch_rows(self):
        import datetime as _dt

        # timezone-aware UTC: Spark interprets NAIVE datetimes in the session
        # timezone, which on a non-UTC machine would shift the batch event
        # relative to the store's epoch-us high-water mark and trip the
        # late-batch guard spuriously.
        t = _dt.datetime.fromtimestamp(
            (SESS_T0 + 7_200_000_000) / 1e6, tz=_dt.timezone.utc
        )
        return [(i, t) for i in range(50)] + [
            (10_000_000 + i, t) for i in range(10)
        ]

    def run(self, spark, stream, store, out, ck):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            run_incremental_sessions,
        )

        run_incremental_sessions(
            stream, store, out, checkpoint=ck,
            group_col="user_id", ts_col="ts",
            gap_s=28800, cap_s=86400, n_buckets=self.NB,
        )

    def check(self, spark, rdir):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            read_incremental_sessions,
        )

        rows = {
            r.user_id: (r.session_n, r.n_events)
            for r in read_incremental_sessions(spark, f"{rdir}/store", f"{rdir}/out")
            .where(F.col("user_id") < 50)
            .collect()
        }
        # 50 continuations absorbed the batch event into the stored session
        assert len(rows) == 50 and all(v == (1, 4) for v in rows.values()), rows


FAMILIES = {
    f.name: f
    for f in [
        AggBucketed(), Sessions(), Postings(), Topk(), Upsert(),
    ]
}


def fit_exponent(ts: dict[int, float]) -> float:
    pts = [(math.log(m), math.log(t)) for m, t in ts.items() if t > 0]
    if len(pts) < 2:
        return float("nan")
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    return round((n * sxy - sx * sy) / (n * sxx - sx * sx), 3)


def main() -> None:
    out_path = (
        sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "SCALE_REHEARSAL.json")
    )
    names = sys.argv[2:] or list(FAMILIES)
    scales = [
        int(s) for s in os.environ.get("SPARK_GRAFT_SCALES", "1,3,10,30").split(",")
    ]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from odp_dynamic_data_pipeline_spark.session import get_spark

    spark = get_spark("store_growth", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    doc = {"queries": {}}
    if os.path.exists(out_path):
        try:
            with open(out_path) as f:
                doc = json.load(f)
        except Exception:  # noqa: BLE001 - corrupt artifact: start fresh
            doc = {"queries": {}}
    results = doc.setdefault("queries", {})
    doc["store_growth_protocol"] = (
        "fixed batch (50-60 rows), store grown by m via filler written in"
        " the fold's own manifest layout;"
        " one AvailableNow micro-batch timed end-to-end per scale, fresh"
        " checkpoint each; untimed warm run at m=1 first.  Fixed micro-batch"
        " machinery ~1-2 s flattens exponents; read ratio_maxscale too."
    )

    root = tempfile.mkdtemp(prefix="store_growth_")
    try:
        for name in names:
            fam = FAMILIES.get(name)
            if fam is None:
                print(f"{name}: unknown family", file=sys.stderr)
                continue
            print(f"[{name}] template...", file=sys.stderr)
            tdir = fam.prepare_template(spark, root)
            fam.timed_run(spark, root, tdir, scales[0], "warm", verify=True)  # untimed
            ts: dict[int, float] = {}
            for m in scales:
                dt = fam.timed_run(spark, root, tdir, m, "t")
                ts[m] = round(dt, 3)
                print(f"[{name}] m={m}: {dt:.2f}s", file=sys.stderr)
            results[f"store_growth_{name}"] = {
                "t": ts,
                "exponent": fit_exponent(ts),
                "ratio_maxscale": round(ts[scales[-1]] / ts[scales[0]], 2),
                "axis": "store-size (fixed batch)",
            }
            with open(out_path, "w") as f:
                f.write(json.dumps(doc) + "\n")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({k: v for k, v in results.items() if k.startswith("store_")}))


if __name__ == "__main__":
    main()
