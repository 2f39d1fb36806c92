"""Stream -> hour-partitioned parquet sink (the continuous version of the
reference's hourly output files), then batch read-back with pruning."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from odp_dynamic_data_pipeline_spark.sources.readers import read_file_stream, read_parquet
from odp_dynamic_data_pipeline_spark.sources.schemas import USER_EXP_SCHEMA, with_event_time


def test_stream_to_partitioned_parquet(spark, tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    rows = [
        {"eventId": "e1", "clientId": "c1", "traceId": "t", "timestamp": "2024-11-16T12:10:00Z",
         "page": "/h", "eventType": "page_view_start"},
        {"eventId": "e2", "clientId": "c1", "traceId": "t", "timestamp": "2024-11-16T13:20:00Z",
         "page": "/h", "eventType": "page_view_end"},
    ]
    with open(d / "a.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    stream = with_event_time(read_file_stream(spark, str(d), USER_EXP_SCHEMA, multiline=False))
    stream = stream.withColumn("hour", F.date_format("event_time", "yyyyMMddHH"))
    out = str(tmp_path / "out")
    q = (
        stream.writeStream.format("parquet")
        .partitionBy("hour")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    pruned = read_parquet(spark, out, hour="2024111613")
    got = [r["eventId"] for r in pruned.collect()]
    assert got == ["e2"]


def test_parallel_sink_writes_raise_every_failure(spark):
    """Two failing writes both surface: the first is raised, the other
    rides along as a note; the successful write still ran."""
    import pytest

    from odp_dynamic_data_pipeline_spark.streaming.stream import _parallel_sink_writes

    ran = []

    def fail(msg):
        def thunk():
            raise ValueError(msg)

        return thunk

    with pytest.raises(ValueError) as info:
        _parallel_sink_writes(fail("first sink"), lambda: ran.append(1), fail("second sink"))
    assert str(info.value) == "first sink"
    assert "second sink" in "\n".join(info.value.__notes__)
    assert ran == [1]


def test_parallel_sink_writes_keep_callers_job_group(spark):
    """The caller's job group reaches the writes' threads and their jobs."""
    from odp_dynamic_data_pipeline_spark.streaming.stream import _parallel_sink_writes

    sc = spark.sparkContext
    seen = []

    def write():
        seen.append(sc.getLocalProperty("spark.jobGroup.id"))
        spark.range(3).count()

    sc.setJobGroup("fold-sinks", "sink writes")
    try:
        _parallel_sink_writes(write, write)
        jobs = sc.statusTracker().getJobIdsForGroup("fold-sinks")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert seen == ["fold-sinks", "fold-sinks"]
    assert len(jobs) >= 2
