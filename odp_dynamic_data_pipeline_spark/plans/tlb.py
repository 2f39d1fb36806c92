"""The TLB (client quality metrics) job as ONE DataFrame query.

The reference hand-codes this as an eager correlation loop
(src/batch_tlb.py:20-85: build indexes, group events by client, sort, pair
page views, probe event->trace->span->log).  Here it is a single lazy plan:

    universe  = distinct clientIds over user_exp          (A2)
    pv        = sessionize + sum durations per client     (W1/W2/A3)
    counts    = events |><| spans |><| logs, count-if     (J5/J6/A4)
    metrics   = universe left-join legs, coalesce to 0    (A2)

Catalyst fuses, pushes projections into the scans, broadcasts the exploded
span dimension, and the whole thing runs with two shuffles (clientId agg,
correlation join) instead of the reference's full in-memory materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from odp_dynamic_data_pipeline_spark.operators.aggregate import (
    conditional_counts,
    with_zero_default_universe,
)
from odp_dynamic_data_pipeline_spark.operators.correlate import correlate_events_logs
from odp_dynamic_data_pipeline_spark.operators.sessionize import pair_page_views
from odp_dynamic_data_pipeline_spark.sources.schemas import with_event_time


def tlb_metrics(user_exp: DataFrame, traces: DataFrame, logs: DataFrame) -> DataFrame:
    """Per-client metrics row: page_view_time (float seconds), retry_count,
    timeout_count, error_count -- golden contract
    output/tlb_metrics/2024111612.json, zero-defaults included."""
    universe = user_exp.select("clientId").distinct()

    ev = with_event_time(user_exp)
    pv = (
        pair_page_views(ev)
        .groupBy("clientId")
        .agg(F.sum("page_view_duration").alias("page_view_time"))
    )

    corr = correlate_events_logs(
        user_exp.select("clientId", "traceId"),
        traces,
        logs.select("spanId", "eventType"),
    )
    t = F.col("eventType")
    counts = conditional_counts(
        corr,
        "clientId",
        {
            "retry_count": t == "RETRY",
            "timeout_count": t == "TIMEOUT",
            "error_count": t == "ERROR",
        },
    )
    return with_zero_default_universe(
        universe,
        [(pv, ["page_view_time"]), (counts, ["retry_count", "timeout_count", "error_count"])],
        "clientId",
    )
