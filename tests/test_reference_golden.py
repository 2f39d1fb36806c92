"""Byte-level replay of the reference's own golden hour.

The strongest fidelity proof available: the EXACT input files the reference
ships (reference: data/{user_exp,trace,log}_2024111612.json -- copied
verbatim into tests/fixtures/reference_hour/) are run through this engine's
shipped YAML pipeline and TLB plan, and the results are compared
order-insensitively against the reference's own committed outputs
(reference: output/*_processed_2024111612.json and
output/tlb_metrics/2024111612.json, copied into
tests/fixtures/reference_hour/expected/).

Normalization is limited to what JSON itself does not fix: key order inside
an object (json objects are unordered), row order inside a file (the
reference writes in dict-iteration order, Spark in partition order), absent
vs null optional fields (the reference's row dicts omit keys that were
never set; Row.asDict carries them as None), and int vs float for zero
metric values.  Every VALUE, including enrichment results and metric
numbers, must match exactly.
"""

from __future__ import annotations

import json
import os

import pytest

from odp_dynamic_data_pipeline_spark.plans import load_pipeline, tlb_metrics
from odp_dynamic_data_pipeline_spark.sources.writers import write_keyed_object

HOUR = "2024111612"
FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "reference_hour")
EXPECTED = os.path.join(FIXTURES, "expected")


def _strip_nulls(row: dict) -> dict:
    return {k: v for k, v in row.items() if v is not None}


def _multiset(rows: list[dict]) -> list[str]:
    """Order-insensitive, key-order-insensitive form of a row list."""
    return sorted(json.dumps(_strip_nulls(r), sort_keys=True, default=str) for r in rows)


@pytest.fixture(scope="module")
def replay_out(spark, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("replay_out"))
    pipe = load_pipeline("pipelines/observability_correlation_pipeline.yaml")
    pipe.run(
        spark, hour=HOUR, path_vars={"data_dir": FIXTURES, "out_dir": out_dir},
        work_dir=str(tmp_path_factory.mktemp("replay_work")),
    )
    return out_dir


@pytest.mark.parametrize(
    "name", ["user_exp_processed", "trace_processed", "log_processed"]
)
def test_reference_golden_stage_outputs(replay_out, name):
    with open(f"{replay_out}/{name}_{HOUR}") as f:
        got = json.load(f)
    with open(f"{EXPECTED}/{name}_{HOUR}.json") as f:
        want = json.load(f)
    assert len(got) == len(want)
    assert _multiset(got) == _multiset(want)


def test_reference_golden_tlb_metrics(spark):
    user_exp = spark.read.option("multiLine", True).json(
        f"{FIXTURES}/user_exp_{HOUR}.json"
    )
    traces = spark.read.option("multiLine", True).json(f"{FIXTURES}/trace_{HOUR}.json")
    logs = spark.read.option("multiLine", True).json(f"{FIXTURES}/log_{HOUR}.json")
    keyed = write_keyed_object(tlb_metrics(user_exp, traces, logs), "clientId")
    with open(f"{EXPECTED}/tlb_metrics/{HOUR}.json") as f:
        want = json.load(f)
    got = {
        c: {
            "page_view_time": float(m["page_view_time"]),
            "retry_count": int(m["retry_count"]),
            "timeout_count": int(m["timeout_count"]),
            "error_count": int(m["error_count"]),
        }
        for c, m in keyed.items()
    }
    want = {
        c: {
            "page_view_time": float(m["page_view_time"]),
            "retry_count": int(m["retry_count"]),
            "timeout_count": int(m["timeout_count"]),
            "error_count": int(m["error_count"]),
        }
        for c, m in want.items()
    }
    assert got == want
