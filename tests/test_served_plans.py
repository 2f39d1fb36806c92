"""Plan contract for the paths the system serves.

The TLB job over the reference hour, read as ``perfbench/workloads.py``
reads it: each raw JSON file through ``sources.readers.read_json`` with its
declared schema, then ``plans.tlb_metrics``.  The executed plan must scan
each raw file once, read no column beyond the ones it reads today (column
pruning, nested fields included), and run in at most today's jobs and
exchanges.  The bounds are today's values: a change that prunes more
tightens them, and one that reads more fails here.
"""

from __future__ import annotations

import os
import re

import pytest

from odp_dynamic_data_pipeline_spark.plans import tlb_metrics
from odp_dynamic_data_pipeline_spark.sources import readers, schemas
from tests.conftest import temp_confs

HOUR = "2024111612"
FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "reference_hour")

# leaf columns each raw file's scans may read; every scan of a file reads a
# subset of its bound
TLB_READ_BOUNDS = {
    "user_exp": {"clientId", "traceId", "timestamp", "eventType"},
    "trace": {"traceId", "spans.spanId", "spans.server", "spans.log"},
    "log": {"spanId", "eventType"},
}
# one pass: two shuffles (the page-view walk by clientId, the per-trace
# counts by traceId) and two broadcasts (the exploded spans, the per-trace
# counts), each exchange a job, plus the result job
TLB_MAX_JOBS = 5
TLB_MAX_EXCHANGES = 4


def _split_top(body: str) -> list[str]:
    parts, depth, start = [], 0, 0
    for i, c in enumerate(body):
        depth += {"<": 1, ">": -1}.get(c, 0)
        if c == "," and depth == 0:
            parts.append(body[start:i])
            start = i + 1
    return parts + [body[start:]]


def leaf_columns(t: str, prefix: str = "") -> set[str]:
    """Dotted leaf paths of a Spark ``simpleString`` type, arrays looked
    through: ``struct<a:int,b:array<struct<c:string>>>`` -> {a, b.c}."""
    if t.startswith("struct<"):
        out = set()
        for field in _split_top(t[len("struct<"):-1]):
            name, sub = field.split(":", 1)
            out |= leaf_columns(sub, f"{prefix}{name}.")
        return out
    if t.startswith("array<"):
        return leaf_columns(t[len("array<"):-1], prefix)
    return {prefix[:-1]}


def file_scans(plan: str) -> list[tuple[str, set[str]]]:
    """(file stem, leaf columns read) of each JSON file scan in ``plan``."""
    out = []
    for line in plan.splitlines():
        if "FileScan json" not in line:
            continue
        path = re.search(r"Location: \w+\(\d+ paths?\)\[([^\]]+)\]", line).group(1)
        schema = re.search(r"ReadSchema: (struct<.*>)$", line).group(1)
        stem = os.path.basename(path).removesuffix(f"_{HOUR}.json")
        out.append((stem, leaf_columns(schema)))
    return out


@pytest.fixture(scope="module")
def tlb_run(spark):
    """(final executed plan, ids of the jobs it ran) of the TLB job."""
    sc = spark.sparkContext
    # the scan node abbreviates metadata past this many characters, which
    # would cut a ReadSchema short
    with temp_confs(spark, {"spark.sql.maxMetadataStringLength": "100000"}):
        ue = readers.read_json(spark, f"{FIXTURES}/user_exp_{HOUR}.json", schemas.USER_EXP_SCHEMA)
        trc = readers.read_json(spark, f"{FIXTURES}/trace_{HOUR}.json", schemas.TRACE_SCHEMA)
        lg = readers.read_json(spark, f"{FIXTURES}/log_{HOUR}.json", schemas.LOG_SCHEMA)
        df = tlb_metrics(ue, trc, lg)
        sc.setJobGroup("served-plans-tlb", "TLB plan contract")
        try:
            df.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        plan = df._jdf.queryExecution().executedPlan().toString()
    jobs = sc.statusTracker().getJobIdsForGroup("served-plans-tlb")
    return plan.split("== Initial Plan ==")[0], jobs


def test_tlb_scans_read_only_the_columns_they_use(tlb_run):
    scans = file_scans(tlb_run[0])
    assert {stem for stem, _ in scans} == set(TLB_READ_BOUNDS), scans
    for stem, cols in scans:
        assert cols <= TLB_READ_BOUNDS[stem], (stem, sorted(cols - TLB_READ_BOUNDS[stem]))


def test_tlb_is_one_pass(tlb_run):
    final, jobs = tlb_run
    stems = sorted(stem for stem, _ in file_scans(final))
    assert stems == sorted(TLB_READ_BOUNDS), stems
    assert len(jobs) <= TLB_MAX_JOBS, sorted(jobs)
    # shuffle and broadcast exchanges; a ReusedExchange runs nothing new
    exchanges = re.findall(r"\b(?:Broadcast)?Exchange ", final)
    assert len(exchanges) <= TLB_MAX_EXCHANGES, exchanges
