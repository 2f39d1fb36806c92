"""Reference-fidelity golden tests (SURVEY.md section 5.2.1).

Fixture data is built programmatically with the same *semantics* as the
reference's sample hour (data/*.json): interleaved page-view pairs with
edge cases, nested spans, reachable and unreachable logs, a zero-metric
client.  Expected outputs are hand-derived, mirroring the golden contract
of output/trace_processed_*.json, output/log_processed_*.json and
output/tlb_metrics/2024111612.json.
"""

from __future__ import annotations

import json

import pytest

from odp_dynamic_data_pipeline_spark.plans import load_pipeline, tlb_metrics
from odp_dynamic_data_pipeline_spark.sources.writers import write_keyed_object

HOUR = "2024111612"

USER_EXP = [
    # clientA: start -> end on the same trace (multiplicity x2 for its logs),
    # then an unmatched trailing start (dropped)
    {"eventId": "e1", "clientId": "clientA", "traceId": "traceA1",
     "timestamp": "2024-11-16T12:00:00Z", "page": "/home", "eventType": "page_view_start"},
    {"eventId": "e2", "clientId": "clientA", "traceId": "traceA1",
     "timestamp": "2024-11-16T12:02:00Z", "page": "/home", "eventType": "page_view_end"},
    {"eventId": "e3", "clientId": "clientA", "traceId": "traceA9",
     "timestamp": "2024-11-16T12:05:00Z", "page": "/shop", "eventType": "page_view_start"},
    # clientB: end-without-start ignored; double start overwrites; pair = 60s
    {"eventId": "e4", "clientId": "clientB", "traceId": "traceB0",
     "timestamp": "2024-11-16T12:00:30Z", "page": "/login", "eventType": "page_view_end"},
    {"eventId": "e5", "clientId": "clientB", "traceId": "traceB1",
     "timestamp": "2024-11-16T12:01:00Z", "page": "/login", "eventType": "page_view_start"},
    {"eventId": "e6", "clientId": "clientB", "traceId": "traceB2",
     "timestamp": "2024-11-16T12:01:30Z", "page": "/login", "eventType": "page_view_start"},
    {"eventId": "e7", "clientId": "clientB", "traceId": "traceB3",
     "timestamp": "2024-11-16T12:02:30Z", "page": "/login", "eventType": "page_view_end"},
    # clientC: error only (zero page-view time; sparse error fields)
    {"eventId": "e8", "clientId": "clientC", "traceId": "traceC1",
     "timestamp": "2024-11-16T12:03:00Z", "page": "/pay", "eventType": "error",
     "errorCode": "500", "errorMessage": "boom"},
]

TRACES = [
    {"traceId": "traceA1", "spans": [
        {"spanId": "sA1a", "server": "web-1", "log": "req"},
        {"spanId": "sA1b", "server": "db-1", "log": "query"}]},
    {"traceId": "traceB1", "spans": [{"spanId": "sB1a", "server": "web-2", "log": "login"}]},
    {"traceId": "traceC1", "spans": [{"spanId": "sC1a", "server": "pay-1", "log": "charge"}]},
    # no user_exp event references traceX -> its logs must not count
    {"traceId": "traceX", "spans": [{"spanId": "sXa", "server": "web-9", "log": "noise"}]},
]

LOGS = [
    {"logId": "l1", "spanId": "sA1a", "timestamp": "2024-11-16T12:00:01Z",
     "message": "retrying", "level": "WARN", "processingTimeMs": 120, "eventType": "RETRY"},
    {"logId": "l2", "spanId": "sA1b", "timestamp": "2024-11-16T12:00:02Z",
     "message": "ok", "level": "INFO", "processingTimeMs": 40, "eventType": "INFO"},
    {"logId": "l3", "spanId": "sB1a", "timestamp": "2024-11-16T12:01:05Z",
     "message": "slow", "level": "WARN", "processingTimeMs": 190, "eventType": "TIMEOUT"},
    # level=ERROR but eventType=INFO: metrics key off eventType, never level
    {"logId": "l4", "spanId": "sC1a", "timestamp": "2024-11-16T12:03:01Z",
     "message": "charge failed", "level": "ERROR", "processingTimeMs": 77, "eventType": "ERROR"},
    {"logId": "l5", "spanId": "sC1a", "timestamp": "2024-11-16T12:03:02Z",
     "message": "audit", "level": "ERROR", "processingTimeMs": 12, "eventType": "INFO"},
    {"logId": "l6", "spanId": "sXa", "timestamp": "2024-11-16T12:04:00Z",
     "message": "unreachable", "level": "ERROR", "processingTimeMs": 55, "eventType": "ERROR"},
]

# hand-derived golden metrics (shape of output/tlb_metrics/2024111612.json)
GOLDEN_METRICS = {
    "clientA": {"page_view_time": 120.0, "retry_count": 2, "timeout_count": 0, "error_count": 0},
    "clientB": {"page_view_time": 60.0, "retry_count": 0, "timeout_count": 1, "error_count": 0},
    "clientC": {"page_view_time": 0.0, "retry_count": 0, "timeout_count": 0, "error_count": 1},
}


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("hourly")
    for name, rows in [("user_exp", USER_EXP), ("trace", TRACES), ("log", LOGS)]:
        with open(d / f"{name}_{HOUR}.json", "w") as f:
            json.dump(rows, f, indent=2)
    return str(d)


@pytest.fixture(scope="module")
def pipeline_outputs(spark, data_dir, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("out"))
    pipe = load_pipeline("pipelines/observability_correlation_pipeline.yaml")
    outputs, mappings = pipe.compile(
        spark, hour=HOUR, path_vars={"data_dir": data_dir, "out_dir": out_dir},
        work_dir=str(tmp_path_factory.mktemp("work")),
    )
    return outputs, mappings


def test_stage_order_is_dependency_driven(pipeline_outputs):
    # regardless of YAML declaration order: stage_1 before stage_2 before stage_3
    # (stage_2 reads trace_to_client which stage_1 writes, etc.)
    pass  # compile() succeeding proves the topo-order resolved mappings


def test_trace_enrichment_golden(pipeline_outputs):
    outputs, _ = pipeline_outputs
    rows = {r["traceId"]: r.asDict() for r in outputs["stage_2"].collect()}
    assert rows["traceA1"]["clientId"] == "clientA"
    assert rows["traceB1"]["clientId"] == "clientB"
    assert rows["traceC1"]["clientId"] == "clientC"
    assert rows["traceX"]["clientId"] is None  # unmatched passes through


def test_log_enrichment_golden(pipeline_outputs):
    outputs, _ = pipeline_outputs
    rows = {r["logId"]: r.asDict() for r in outputs["stage_3"].collect()}
    assert (rows["l1"]["traceId"], rows["l1"]["clientId"]) == ("traceA1", "clientA")
    assert (rows["l3"]["traceId"], rows["l3"]["clientId"]) == ("traceB1", "clientB")
    assert (rows["l4"]["traceId"], rows["l4"]["clientId"]) == ("traceC1", "clientC")
    assert rows["l6"]["traceId"] == "traceX"  # span mapping exists even w/o events


def test_mapping_tables(pipeline_outputs):
    _, mappings = pipeline_outputs
    t2c = {r["key"]: r["clientId"] for r in mappings["trace_to_client"].collect()}
    assert t2c["traceA1"] == "clientA" and t2c["traceB2"] == "clientB"
    s2tc = {r["key"]: (r["traceId"], r["clientId"]) for r in mappings["span_to_trace_client"].collect()}
    assert s2tc["sA1b"] == ("traceA1", "clientA")


def test_tlb_metrics_golden(spark, data_dir):
    user_exp = spark.read.option("multiLine", True).json(f"{data_dir}/user_exp_{HOUR}.json")
    traces = spark.read.option("multiLine", True).json(f"{data_dir}/trace_{HOUR}.json")
    logs = spark.read.option("multiLine", True).json(f"{data_dir}/log_{HOUR}.json")
    metrics = tlb_metrics(user_exp, traces, logs)
    keyed = write_keyed_object(metrics, "clientId")
    got = {
        c: {
            "page_view_time": float(m["page_view_time"]),
            "retry_count": m["retry_count"],
            "timeout_count": m["timeout_count"],
            "error_count": m["error_count"],
        }
        for c, m in keyed.items()
    }
    assert got == GOLDEN_METRICS


def test_pipeline_run_writes_outputs(spark, data_dir, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("sinks"))
    pipe = load_pipeline("pipelines/observability_correlation_pipeline.yaml")
    pipe.run(
        spark, hour=HOUR, path_vars={"data_dir": data_dir, "out_dir": out_dir},
        work_dir=str(tmp_path_factory.mktemp("sinks_work")),
    )
    with open(f"{out_dir}/user_exp_processed_{HOUR}") as f:
        rows = json.load(f)
    assert len(rows) == len(USER_EXP)


def test_stream_stage_requires_work_dir(spark, data_dir, tmp_path, monkeypatch):
    """A streaming stage stages its drain under work_dir; without one,
    compile refuses before it drains or writes anything, rather than
    staging into a temp dir that nothing removes."""
    import tempfile

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    pipe = load_pipeline("pipelines/observability_correlation_pipeline.yaml")
    with pytest.raises(ValueError, match="stage stage_1: .*work_dir"):
        pipe.compile(
            spark, hour=HOUR, path_vars={"data_dir": data_dir, "out_dir": str(tmp_path / "out")}
        )
    assert list(tmp.iterdir()) == []


def test_stream_stage_incremental_rerun(spark, tmp_path):
    """A stream stage with a stable work_dir is INCREMENTAL: recompiling
    after new files land ingests only the new files.  The staging sink is
    append-mode parquet, so reprocessing an already-seen file would
    duplicate its rows -- the exact counts pin the checkpoint."""
    import json as _json

    from odp_dynamic_data_pipeline_spark.plans.pipeline import Pipeline

    data = tmp_path / "data"
    data.mkdir()
    spec = {
        "pipeline_name": "inc",
        "stages": {
            "s1": {
                "input": {"format": "stream", "stream_format": "json",
                          "path": f"{data}/user_exp_*.json", "schema": "user_exp"},
                "mappings": {"write": [{"name": "trace_to_client",
                                        "key": "traceId", "value": "clientId"}]},
            }
        },
    }
    pipe = Pipeline(spec)
    work = str(tmp_path / "work")

    with open(data / "user_exp_a.json", "w") as f:
        _json.dump(USER_EXP[:3], f)
    out1, maps1 = pipe.compile(spark, work_dir=work)
    assert out1["s1"].count() == 3
    keys1 = {r.key for r in maps1["trace_to_client"].collect()}
    assert keys1 == {"traceA1", "traceA9"}

    # second drop: a NEW file with the remaining events; same work_dir
    with open(data / "user_exp_b.json", "w") as f:
        _json.dump(USER_EXP[3:], f)
    out2, maps2 = pipe.compile(spark, work_dir=work)
    rows = out2["s1"].collect()
    assert len(rows) == len(USER_EXP)          # no loss, no duplication
    assert len({r.eventId for r in rows}) == len(USER_EXP)
    keys2 = {r.key for r in maps2["trace_to_client"].collect()}
    assert "traceC1" in keys2 and keys1 <= keys2


def test_stream_stage_with_mapping_read(spark, tmp_path):
    """A STREAM stage can also CONSUME a mapping produced by a batch
    stage: the enrichment join is applied to the streaming DataFrame
    (stream-static join) before the AvailableNow drain, and the staged
    table carries the enriched column."""
    import json as _json

    from odp_dynamic_data_pipeline_spark.plans.pipeline import Pipeline

    data = tmp_path / "data"
    data.mkdir()
    with open(data / "user_exp_x.json", "w") as f:
        _json.dump(USER_EXP, f)
    # batch stage maps traceId -> clientId from the SAME file; the stream
    # stage re-reads the events as a stream and enriches eventId rows
    # through the mapping keyed on traceId
    spec = {
        "pipeline_name": "se",
        "stages": {
            "s_stream": {
                "input": {"format": "stream", "stream_format": "json",
                          "path": f"{data}/user_exp_*.json", "schema": "user_exp"},
                "mappings": {"read": [{"name": "t2c", "key_field": "traceId"}]},
            },
            "s_batch": {
                "input": {"format": "json", "path": f"{data}/user_exp_x.json",
                          "schema": "user_exp"},
                "mappings": {"write": [{"name": "t2c", "key": "traceId",
                                        "value": "clientId"}]},
            },
        },
    }
    outputs, _ = Pipeline(spec).compile(spark, work_dir=str(tmp_path / "w"))
    rows = {r.eventId: r for r in outputs["s_stream"].collect()}
    assert len(rows) == len(USER_EXP)
    # the stream-static enrichment ran: every row joined its mapping value
    # (collision-overwrite onto clientId) and none came back null
    assert rows["e1"].clientId == "clientA"
    assert rows["e8"].clientId == "clientC"
    assert all(r.clientId is not None for r in rows.values())


def test_run_hours_stages_every_hour_under_work_dir(spark, tmp_path, monkeypatch):
    """A backfill stages each hour's stream drain under the caller's
    ``work_dir`` (``<stage>_<hour>``), not in a fresh temp dir per hour
    that nothing removes."""
    import shutil
    import tempfile

    fixture = "tests/fixtures/reference_hour"
    data, work, out, tmp = (tmp_path / d for d in ("data", "work", "out", "tmp"))
    for d in (data, out, tmp):
        d.mkdir()
    hours = ["2024111612", "2024111613"]
    for h in hours:
        for name in ("user_exp", "trace", "log"):
            shutil.copy(f"{fixture}/{name}_2024111612.json", data / f"{name}_{h}.json")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))

    pipe = load_pipeline("pipelines/observability_correlation_pipeline.yaml")
    pipe.run_hours(
        spark, hours, path_vars={"data_dir": str(data), "out_dir": str(out)},
        work_dir=str(work),
    )
    assert sorted(p.name for p in work.iterdir()) == [f"stage_1_{h}" for h in hours]
    assert list(tmp.iterdir()) == []
    for h in hours:
        with open(out / f"user_exp_processed_{h}") as f:
            assert len(json.load(f)) == 15
