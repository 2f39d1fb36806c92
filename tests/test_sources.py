"""Source/sink tests: hour-partitioned parquet layout with partition pruning
(the Spark-native replacement for the reference's {hour} path templating,
SURVEY.md P6/S1), JSON array edge format, keyed-object metrics sink."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from odp_dynamic_data_pipeline_spark.sources.readers import read_parquet
from odp_dynamic_data_pipeline_spark.sources.writers import (
    write_json_array,
    write_keyed_object,
    write_parquet,
)


def test_hour_partitioned_roundtrip_and_pruning(spark, tmp_path):
    df = spark.createDataFrame(
        [("e1", "2024111612", 1.0), ("e2", "2024111613", 2.0), ("e3", "2024111613", 3.0)],
        "eventId string, hour string, v double",
    )
    path = str(tmp_path / "events_parquet")
    write_parquet(df, path, partition_by=["hour"])

    got = read_parquet(spark, path, hour="2024111613")
    assert {r["eventId"] for r in got.collect()} == {"e2", "e3"}

    # the hour filter must become partition pruning, not a post-scan filter
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "2024111613" in plan


def test_json_array_sink(spark, tmp_path):
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
    out = str(tmp_path / "arr.json")
    write_json_array(df.orderBy("k"), out)
    with open(out) as f:
        data = json.load(f)
    assert data == [{"k": "a", "v": 1}, {"k": "b", "v": 2}]


def test_json_sinks_write_a_bare_filename(spark, tmp_path, monkeypatch):
    """A path with no directory part writes to the working directory."""
    monkeypatch.chdir(tmp_path)
    df = spark.createDataFrame([("a", 1)], "k string, v long")
    write_json_array(df, "arr.json")
    write_keyed_object(df, "k", "keyed.json")
    assert json.loads((tmp_path / "arr.json").read_text()) == [{"k": "a", "v": 1}]
    assert json.loads((tmp_path / "keyed.json").read_text()) == {"a": {"v": 1}}


def test_keyed_object_sink(spark, tmp_path):
    df = spark.createDataFrame(
        [("c1", 120.0, 0), ("c2", 0.0, 1)], "clientId string, page_view_time double, error_count long"
    )
    out = str(tmp_path / "metrics.json")
    keyed = write_keyed_object(df, "clientId", out)
    assert keyed["c1"] == {"page_view_time": 120.0, "error_count": 0}
    with open(out) as f:
        assert json.load(f)["c2"]["error_count"] == 1
