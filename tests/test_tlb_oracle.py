"""The TLB job against the benchmark's pure-Python reference oracle
(``perfbench/oracle.py::expected_tlb``) on an hour built to hit the
correlation's edge cases: two events on one trace (its logs count twice),
an event with a null traceId (counts nothing), an event on a trace with no
trace row, and a null clientId, which the reference groups as one more
client with real sums."""

from __future__ import annotations

import json

from odp_dynamic_data_pipeline_spark.plans import tlb_metrics
from odp_dynamic_data_pipeline_spark.sources import readers, schemas
from perfbench import oracle


def _event(i, client, trace, second, etype):
    return {"eventId": f"event{i}", "clientId": client, "traceId": trace,
            "timestamp": f"2024-11-16T12:00:{second:02d}Z", "page": "/home", "eventType": etype}


USER_EXP = [
    _event(1, "client1", "trace1", 0, "page_view_start"),
    _event(2, "client1", "trace1", 10, "page_view_end"),
    _event(3, "client2", None, 20, "page_view_start"),
    _event(4, "client2", "trace2", 50, "page_view_end"),
    _event(5, None, "trace2", 51, "page_view_start"),
    _event(6, None, "trace3", 58, "page_view_end"),
    _event(7, "client3", "trace9", 59, "click"),
]
TRACE = [
    {"traceId": "trace1", "spans": [{"spanId": "span1", "server": "web", "log": "a"},
                                    {"spanId": "span2", "server": "db", "log": "b"}]},
    {"traceId": "trace2", "spans": [{"spanId": "span3", "server": "web", "log": "c"}]},
    {"traceId": "trace3", "spans": [{"spanId": "span4", "server": "web", "log": "d"}]},
]
LOG = [
    {"logId": f"log{i}", "spanId": span, "timestamp": "2024-11-16T12:00:00Z", "message": "m",
     "level": "INFO", "processingTimeMs": 1, "eventType": etype}
    for i, (span, etype) in enumerate([
        ("span1", "RETRY"), ("span1", "ERROR"), ("span2", "RETRY"), ("span2", "INFO"),
        ("span3", "TIMEOUT"), ("span4", "ERROR"), ("span9", "ERROR"),
    ])
]


def test_tlb_matches_the_reference_oracle(spark, tmp_path):
    dfs = {}
    for name, rows, schema in (("user_exp", USER_EXP, schemas.USER_EXP_SCHEMA),
                               ("trace", TRACE, schemas.TRACE_SCHEMA),
                               ("log", LOG, schemas.LOG_SCHEMA)):
        (tmp_path / f"{name}.json").write_text(json.dumps(rows, indent=1))
        dfs[name] = readers.read_json(spark, str(tmp_path / f"{name}.json"), schema)
    got = {
        str(r["clientId"]): r.asDict()
        for r in tlb_metrics(dfs["user_exp"], dfs["trace"], dfs["log"]).collect()
    }
    want = oracle.normalize_tlb(oracle.expected_tlb(USER_EXP, TRACE, LOG))
    assert oracle.normalize_tlb(got) == want
    # both client1 events probe trace1: its two RETRY logs count twice each
    assert want["client1"] == {"page_view_time": 10.0, "retry_count": 4, "timeout_count": 0, "error_count": 2}
    assert want["None"] == {"page_view_time": 7.0, "retry_count": 0, "timeout_count": 1, "error_count": 1}
