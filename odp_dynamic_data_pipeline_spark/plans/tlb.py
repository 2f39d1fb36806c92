"""The TLB (client quality metrics) job as ONE DataFrame query.

The reference hand-codes this as an eager correlation loop
(src/batch_tlb.py:20-85: build indexes, group events by client, sort, pair
page views, probe event->trace->span->log).  Here it is a single lazy plan
that scans each input once:

    per_trace = spans |><| logs, count-if per traceId              (J5/J6/A4)
    walked    = user_exp, every row, in page-view walk order;
                a duration on each end that consumes a start       (W1/W2)
    metrics   = walked left-join per_trace on traceId,
                one groupBy(clientId) of zero-coalesced sums       (A2/A3)

Every client with an event gets a row, so the key universe needs no join of
its own: a client without page views or logs sums to zero.  Summing the
per-trace counts over events keeps the probe's multiplicity (N events on
one trace count its logs N times), and a null clientId groups as one client,
as in the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from odp_dynamic_data_pipeline_spark.operators.aggregate import conditional_counts
from odp_dynamic_data_pipeline_spark.operators.correlate import explode_spans
from odp_dynamic_data_pipeline_spark.operators.sessionize import _walk_page_views
from odp_dynamic_data_pipeline_spark.sources.schemas import with_event_time

COUNTS = {"retry_count": "RETRY", "timeout_count": "TIMEOUT", "error_count": "ERROR"}


def tlb_metrics(user_exp: DataFrame, traces: DataFrame, logs: DataFrame) -> DataFrame:
    """Per-client metrics row: page_view_time (float seconds), retry_count,
    timeout_count, error_count -- golden contract
    output/tlb_metrics/2024111612.json, zero-defaults included."""
    t = F.col("eventType")
    per_trace = conditional_counts(
        explode_spans(traces).join(logs.select("spanId", "eventType"), "spanId"),
        "traceId",
        {name: t == etype for name, etype in COUNTS.items()},
    )
    walked = _walk_page_views(with_event_time(user_exp))
    return (
        walked.join(per_trace, "traceId", "left")
        .groupBy("clientId")
        .agg(
            F.coalesce(F.sum("page_view_duration"), F.lit(0.0)).alias("page_view_time"),
            *[F.coalesce(F.sum(c), F.lit(0)).alias(c) for c in COUNTS],
        )
    )
