"""Exactly-once under REAL task retries.

The jsonl Python sink's two-phase commit is unit-tested with simulated
retry orphans; this suite injects an ACTUAL Spark task retry — a
partition that raises on attempt 0 and succeeds on attempt 1 — and
asserts the committed output is exactly-once with no staging residue.
Local mode defaults to task maxFailures=1 (first failure kills the job),
so the scenario needs a `local[4,2]` master; SparkSession.getOrCreate
would silently reuse the suite's shared session instead, hence the
subprocess: a fresh interpreter builds the retrying session, runs the
write, and reports row/file counts on stdout.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import glob, json, os, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

out = {out!r}
spark = (
    SparkSession.builder.master("local[4,2]")   # 2 = task maxFailures
    .appName("retry-probe")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
)
from odp_dynamic_data_pipeline_spark.sources.pyds import register_python_sources
register_python_sources(spark)

def flaky(batches):
    # partition 0 dies on its FIRST attempt only -- the classic transient
    # executor failure; the retry must not double or lose rows
    from pyspark import TaskContext
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        raise RuntimeError("injected transient failure")
    for b in batches:
        yield b

df = spark.range(0, 1000, 1, 4).selectExpr("id", "id * 3 AS v")
flaky_df = df.mapInArrow(flaky, "id long, v long")
flaky_df.write.format("jsonl_pysink").mode("append").option("path", out).save()

rows = []
for fn in glob.glob(out + "/*.jsonl"):
    with open(fn) as f:
        rows.extend(json.loads(ln) for ln in f)
print(json.dumps({{
    "n_rows": len(rows),
    "n_distinct": len({{r["id"] for r in rows}}),
    "sum_v": sum(r["v"] for r in rows),
    "tmp_left": len(glob.glob(out + "/*.tmp")),
}}))
spark.stop()
"""


def test_jsonl_sink_exactly_once_under_real_task_retry(tmp_path):
    out = str(tmp_path / "retry_out")
    proc = subprocess.run(
        [sys.executable, "-c", CHILD.format(repo=REPO, out=out)],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    verdict = json.loads(proc.stdout.strip().splitlines()[-1])
    assert verdict == {
        "n_rows": 1000,
        "n_distinct": 1000,
        "sum_v": sum(i * 3 for i in range(1000)),
        "tmp_left": 0,
    }, verdict


STREAM_CHILD = r"""
import glob, json, os, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

base = {base!r}
spark = (
    SparkSession.builder.master("local[4,2]")
    .appName("retry-stream-probe")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
)

src, out, ckpt = base + "/in", base + "/out", base + "/ckpt"
spark.range(0, 1000, 1, 4).selectExpr("id", "id * 3 AS v").write.parquet(src)

def flaky(batches):
    from pyspark import TaskContext
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        raise RuntimeError("injected transient failure")
    for b in batches:
        yield b

stream = spark.readStream.schema("id long, v long").parquet(src)
q = (
    stream.mapInArrow(flaky, "id long, v long")
    .writeStream.format("parquet")
    .option("path", out)
    .option("checkpointLocation", ckpt)
    .trigger(availableNow=True)
    .start()
)
q.awaitTermination()
rows = spark.read.schema("id long, v long").parquet(out).collect()
print(json.dumps({{
    "n_rows": len(rows),
    "n_distinct": len({{r["id"] for r in rows}}),
    "sum_v": sum(r["v"] for r in rows),
}}))
spark.stop()
"""


def test_streaming_sink_exactly_once_under_real_task_retry(tmp_path):
    """Same injected transient failure, inside a MICRO-BATCH: the
    streaming file sink's manifest commit must admit the retried task's
    output exactly once (a doubled or dropped partition 0 would show in
    the count/checksum)."""
    base = str(tmp_path / "stream_retry")
    proc = subprocess.run(
        [sys.executable, "-c", STREAM_CHILD.format(repo=REPO, base=base)],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    verdict = json.loads(proc.stdout.strip().splitlines()[-1])
    assert verdict == {
        "n_rows": 1000,
        "n_distinct": 1000,
        "sum_v": sum(i * 3 for i in range(1000)),
    }, verdict


PYSINK_STREAM_CHILD = r"""
import glob, json, os, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

base = {base!r}
spark = (
    SparkSession.builder.master("local[4,2]")
    .appName("retry-pysink-probe")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
)
from odp_dynamic_data_pipeline_spark.sources.pyds import register_python_sources
register_python_sources(spark)

src, out, ckpt = base + "/in", base + "/out", base + "/ckpt"
spark.range(0, 1000, 1, 4).selectExpr("id", "id * 3 AS v").write.parquet(src)

def flaky(batches):
    from pyspark import TaskContext
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        raise RuntimeError("injected transient failure")
    for b in batches:
        yield b

stream = spark.readStream.schema("id long, v long").parquet(src)
q = (
    stream.mapInArrow(flaky, "id long, v long")
    .writeStream.format("jsonl_pysink")
    .option("path", out)
    .option("checkpointLocation", ckpt)
    .trigger(availableNow=True)
    .start()
)
q.awaitTermination()
rows = []
for fn in glob.glob(out + "/batch-*.jsonl"):
    with open(fn) as f:
        rows.extend(json.loads(ln) for ln in f)
print(json.dumps({{
    "n_rows": len(rows),
    "n_distinct": len({{r["id"] for r in rows}}),
    "sum_v": sum(r["v"] for r in rows),
    "tmp_left": len(glob.glob(out + "/*.tmp")),
}}))
spark.stop()
"""


def test_python_stream_sink_exactly_once_under_real_task_retry(tmp_path):
    """The failure lands in the PYTHON streaming sink's own micro-batch:
    the failed attempt stages a .tmp that no commit message names; the
    per-batch delete-then-rename commit plus the orphan sweep must leave
    exactly-once rows and a clean directory."""
    base = str(tmp_path / "pysink_retry")
    proc = subprocess.run(
        [sys.executable, "-c", PYSINK_STREAM_CHILD.format(repo=REPO, base=base)],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    verdict = json.loads(proc.stdout.strip().splitlines()[-1])
    assert verdict == {
        "n_rows": 1000,
        "n_distinct": 1000,
        "sum_v": sum(i * 3 for i in range(1000)),
        "tmp_left": 0,
    }, verdict


CRASH_CHILD = r"""
import glob, json, os, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

base = {base!r}
marker = base + "/crashed"
src, out, ckpt = base + "/in", base + "/out", base + "/ckpt"

import odp_dynamic_data_pipeline_spark.sources.pyds as pyds
from pyspark.sql.datasource import DataSource

class CrashingStreamWriter(pyds.JsonlStreamSinkWriter):
    # dies AFTER the sink commit of batch 0, BEFORE the engine can commit
    # the checkpoint offset -- the exact replay window the 2PC exists for.
    # (Defined in __main__ so cloudpickle ships the class BY VALUE to the
    # commit worker; patching the imported class would not survive
    # pickling.)
    def commit(self, messages, batchId):
        super().commit(messages, batchId)
        if batchId == 0 and not os.path.exists(self.marker):
            open(self.marker, "w").write("x")
            raise RuntimeError("injected crash after sink commit")

class CrashingJsonlSink(DataSource):
    @classmethod
    def name(cls):
        return "jsonl_pysink_crash"

    def streamWriter(self, schema, overwrite):
        w = CrashingStreamWriter(self.options)
        w.marker = self.options["marker"]
        return w

spark = (
    SparkSession.builder.master("local[4]")
    .appName("crash-window-probe")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
)
spark.dataSource.register(CrashingJsonlSink)

if not os.path.exists(src):
    spark.range(0, 1000, 1, 4).selectExpr("id", "id * 3 AS v").write.parquet(src)

stream = (
    spark.readStream.schema("id long, v long")
    .option("maxFilesPerTrigger", "1")
    .parquet(src)
)
q = (
    stream.writeStream.format("jsonl_pysink_crash")
    .option("path", out)
    .option("marker", marker)
    .option("checkpointLocation", ckpt)
    .trigger(availableNow=True)
    .start()
)
try:
    q.awaitTermination()
except Exception:
    sys.exit(17)   # run 1: the injected crash surfaces as query failure
rows = []
for fn in glob.glob(out + "/batch-*.jsonl"):
    with open(fn) as f:
        rows.extend(json.loads(ln) for ln in f)
batch_ids = sorted({{fn.rsplit("/", 1)[-1].split("-")[1] for fn in glob.glob(out + "/batch-*.jsonl")}})
print(json.dumps({{
    "n_rows": len(rows),
    "n_distinct": len({{r["id"] for r in rows}}),
    "sum_v": sum(r["v"] for r in rows),
    "tmp_left": len(glob.glob(out + "/*.tmp")),
    "n_batches": len(batch_ids),
}}))
spark.stop()
"""


def test_python_stream_sink_survives_crash_between_sink_and_checkpoint_commit(tmp_path):
    """THE replay window the two-phase commit exists for: the driver dies
    AFTER the sink committed batch 0 but BEFORE the engine committed the
    checkpoint offset.  The restarted query replays batch 0 from the
    checkpoint; the sink's delete-then-rename must REPLACE the first
    run's batch-0 files instead of doubling them.  Run 1 exits 17 by
    design; run 2 completes and the totals must be exactly-once."""
    base = str(tmp_path / "crash_window")
    os.makedirs(base)
    args = [sys.executable, "-c", CRASH_CHILD.format(repo=REPO, base=base)]
    first = subprocess.run(args, capture_output=True, text=True, timeout=300)
    assert first.returncode == 17, (first.returncode, first.stderr[-2000:])
    # batch 0 WAS sink-committed before the crash
    import glob as _glob

    assert _glob.glob(f"{base}/out/batch-00000000-*.jsonl")
    second = subprocess.run(args, capture_output=True, text=True, timeout=300)
    assert second.returncode == 0, second.stderr[-3000:]
    verdict = json.loads(second.stdout.strip().splitlines()[-1])
    assert verdict["n_rows"] == 1000 and verdict["n_distinct"] == 1000, verdict
    assert verdict["sum_v"] == sum(i * 3 for i in range(1000)), verdict
    assert verdict["tmp_left"] == 0 and verdict["n_batches"] >= 2, verdict


TORN_WRITE_CHILD = r"""
import glob, json, os, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

base = {base!r}
marker = base + "/torn"
src, out, ckpt = base + "/in", base + "/out", base + "/ckpt"

import odp_dynamic_data_pipeline_spark.sources.pyds as pyds
from pyspark.sql.datasource import DataSource

class TornWriteSink(pyds.JsonlStreamSinkWriter):
    # hard-kills the python worker MID-WRITE on partition 0 of the first
    # run, after staging a torn .tmp -- the ungraceful death a commit
    # protocol must tolerate.  Cloudpickled by value to executors.
    def write(self, iterator):
        from pyspark import TaskContext
        import itertools, os as _os
        if TaskContext.get().partitionId() == 0 and not _os.path.exists(self.marker):
            rows = list(iterator)
            half = iter(rows[: len(rows) // 2])
            try:
                super().write(half)   # stages a PARTIAL .tmp
            finally:
                open(self.marker, "w").write("x")
                _os._exit(9)          # worker dies; no commit message ever sent
        return super().write(iterator)

class TornJsonlSink(DataSource):
    @classmethod
    def name(cls):
        return "jsonl_pysink_torn"

    def streamWriter(self, schema, overwrite):
        w = TornWriteSink(self.options)
        w.marker = self.options["marker"]
        return w

spark = (
    SparkSession.builder.master("local[4]")
    .appName("torn-write-probe")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
)
spark.dataSource.register(TornJsonlSink)

if not os.path.exists(src):
    spark.range(0, 1000, 1, 4).selectExpr("id", "id * 3 AS v").write.parquet(src)

stream = spark.readStream.schema("id long, v long").parquet(src)
q = (
    stream.writeStream.format("jsonl_pysink_torn")
    .option("path", out)
    .option("marker", marker)
    .option("checkpointLocation", ckpt)
    .trigger(availableNow=True)
    .start()
)
try:
    q.awaitTermination()
except Exception:
    print(json.dumps({{"phase": "crashed",
        "tmp_on_disk": len(glob.glob(out + "/*.tmp"))}}))
    sys.exit(23)
rows = []
for fn in glob.glob(out + "/batch-*.jsonl"):
    with open(fn) as f:
        rows.extend(json.loads(ln) for ln in f)
print(json.dumps({{
    "n_rows": len(rows),
    "n_distinct": len({{r["id"] for r in rows}}),
    "sum_v": sum(r["v"] for r in rows),
    "tmp_left": len(glob.glob(out + "/*.tmp")),
}}))
spark.stop()
"""


def test_python_stream_sink_sweeps_torn_write_after_hard_kill(tmp_path):
    """A python worker hard-killed (os._exit) MID-WRITE leaves a torn
    .tmp with no commit message.  Run 1 must fail; run 2 (marker set, no
    crash) replays the batch and its commit must sweep the orphan and
    deliver exactly-once rows with a clean directory."""
    base = str(tmp_path / "torn")
    os.makedirs(base)
    args = [sys.executable, "-c", TORN_WRITE_CHILD.format(repo=REPO, base=base)]
    first = subprocess.run(args, capture_output=True, text=True, timeout=300)
    assert first.returncode == 23, (first.returncode, first.stderr[-2000:])
    crash_info = json.loads(first.stdout.strip().splitlines()[-1])
    assert crash_info["tmp_on_disk"] >= 1, crash_info  # the torn file is real
    second = subprocess.run(args, capture_output=True, text=True, timeout=300)
    assert second.returncode == 0, second.stderr[-3000:]
    verdict = json.loads(second.stdout.strip().splitlines()[-1])
    assert verdict == {
        "n_rows": 1000,
        "n_distinct": 1000,
        "sum_v": sum(i * 3 for i in range(1000)),
        "tmp_left": 0,
    }, verdict
