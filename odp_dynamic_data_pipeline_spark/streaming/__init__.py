from odp_dynamic_data_pipeline_spark.streaming.stream import (
    dedup_within_watermark,
    pair_page_views_stream,
    read_incremental_agg,
    run_available_now,
    run_incremental_agg,
    session_window_metrics,
    stream_enrich,
    stream_stream_join,
    windowed_event_counts,
)

__all__ = [
    "dedup_within_watermark",
    "pair_page_views_stream",
    "read_incremental_agg",
    "run_available_now",
    "run_incremental_agg",
    "session_window_metrics",
    "stream_enrich",
    "stream_stream_join",
    "windowed_event_counts",
]
