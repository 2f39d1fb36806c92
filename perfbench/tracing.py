"""Tracing for the per-layer run (``--trace 1``).

Spans are recorded by the benchmark around its calls into the program's
layers (name, start, end, parent span, batch id) and kept in memory until
the run ends.  A span opened with ``layer=True`` is a *layer call*: it runs
under its own Spark job group, and after each batch the Spark status REST
API is read once to attach the batch's jobs and stages to the layer calls
that submitted them -- by job group, or, for jobs submitted from threads
that do not carry it (adaptive-execution follow-up jobs, streaming query
threads, parallel sink writers), by submission time inside the call.
Layer calls never nest and one batch runs at a time, so the time rule is
unambiguous.

Operators are lazy, so their self time is measured separately by
:func:`noop_seconds`: materialize a plan prefix to the ``noop`` sink and
subtract the materialization of its inputs (see :func:`self_time`).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import statistics
import time
import urllib.request
from collections import defaultdict

def _rest_time(s: str | None) -> float | None:
    """Spark REST timestamps look like ``2026-10-17T00:21:29.171GMT``."""
    if not s:
        return None
    return dt.datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class DrainListener:
    """StreamingQueryListener counting micro-batches and their trigger
    time -- the AvailableNow drain of streaming stages."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.batches = 0
        self.seconds = 0.0

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                outer.batches += 1
                outer.seconds += event.progress.durationMs.get("triggerExecution", 0) / 1000.0

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.active = False  # spans are recorded only while active
        self.batch: int | None = None
        self.drain = DrainListener()
        spark.streams.addListener(self.drain.listener)

    def close(self):
        self.spark.streams.removeListener(self.drain.listener)

    @contextlib.contextmanager
    def span(self, name: str, *, layer: bool = False):
        if not self.active:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "batch": self.batch,
            "layer": layer,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if layer:
            rec["group"] = f"perfbench-{sid}"
            self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            if layer:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._stack.pop()
            rec["end"] = time.time()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def collect_batch(self, batch: int) -> dict:
        """Attach Spark job/stage metrics to the layer calls of ``batch``;
        returns per-batch scan counters (tasks and input records of stages
        that read files)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        calls = [s for s in self.spans if s["batch"] == batch and s["layer"]]
        if not calls:
            return {"read_tasks": 0, "input_records": 0}
        lo = min(c["start"] for c in calls) - 0.5
        by_group = {c["group"]: c for c in calls}
        jobs = [j for j in self._get("/jobs") if (_rest_time(j.get("submissionTime")) or 0) >= lo]
        stages = {s["stageId"]: s for s in self._get("/stages") if s.get("status") != "SKIPPED"}
        for c in calls:
            c["jobs"] = []
        seen_stage: set[int] = set()
        read_tasks = input_records = 0
        for j in jobs:
            sub = _rest_time(j.get("submissionTime"))
            owner = by_group.get(j.get("jobGroup"))
            if owner is None:
                inside = [c for c in calls if c["start"] <= sub <= c["end"]]
                owner = max(inside, key=lambda c: c["start"]) if inside else None
            if owner is None:
                continue
            owner["jobs"].append(j)
            for sid in j.get("stageIds", ()):
                st = stages.get(sid)
                if st is None or sid in seen_stage:
                    continue
                seen_stage.add(sid)
                if st.get("inputRecords", 0) > 0:
                    read_tasks += st.get("numCompleteTasks", 0)
                    input_records += st["inputRecords"]
                owner.setdefault("stages", []).append(st)
        for c in calls:
            wall = c["end"] - c["start"]
            ivs = []
            for j in c["jobs"]:
                s, e = _rest_time(j.get("submissionTime")), _rest_time(j.get("completionTime"))
                if s is not None and e is not None:
                    ivs.append((max(s, c["start"]), min(e, c["end"])))
            spark_s = _union_seconds([iv for iv in ivs if iv[1] > iv[0]])
            sts = c.pop("stages", [])
            c["metrics"] = {
                "spark_s": spark_s,
                "driver_s": wall - spark_s,
                "tasks": sum(s.get("numCompleteTasks", 0) for s in sts),
                "executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in sts) / 1e9,
                "gc_s": sum(s.get("jvmGcTime", 0) for s in sts) / 1e3,
                "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in sts),
                "input_records": sum(s.get("inputRecords", 0) for s in sts),
                "failed_tasks": sum(s.get("numFailedTasks", 0) for s in sts),
            }
            c["n_jobs"] = len(c.pop("jobs"))
        return {"read_tasks": read_tasks, "input_records": input_records}

    def batch_totals(self, batch: int) -> dict[str, dict]:
        """Per layer-call name: wall seconds plus every counter, summed
        over the calls of that name in ``batch``."""
        out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s["batch"] != batch:
                continue
            out[s["name"]]["wall_s"] += s["end"] - s["start"]
            for k, v in s.get("metrics", {}).items():
                out[s["name"]][k] += v
        return out

    def layer_wall(self, batch: int) -> float:
        """Summed wall of the outermost spans of ``batch``."""
        ids = {s["id"] for s in self.spans if s["batch"] == batch}
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["batch"] == batch and s["parent"] not in ids
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def noop_seconds(df, reps: int = 1) -> float:
    """Median wall of materializing ``df`` to the noop sink."""
    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


def self_time(out_s: float, inputs_s: list[float], job_s: float) -> float:
    """Operator self time from noop walls: the output's wall minus each
    input's, where every input materialization paid one fixed job cost
    ``job_s`` that the output's single job pays only once."""
    return out_s - sum(inputs_s) + (len(inputs_s) - 1) * job_s
