from news_data_pipeline_spark.streaming.ops import (
    enrich_stream_with_dim,
    interval_join_streams,
    read_event_stream,
    session_window_counts,
    sliding_window_counts,
    tumbling_window_counts,
    watermarked_dedup,
)
from news_data_pipeline_spark.streaming.sinks import (
    apply_cdc,
    ingest_deduplicated,
    run_available_now,
    split_to_silver_and_quarantine,
)
from news_data_pipeline_spark.streaming.state import (
    running_user_totals,
    streaming_rate_anomalies,
    user_funnel_state,
)

__all__ = [
    "apply_cdc",
    "enrich_stream_with_dim",
    "ingest_deduplicated",
    "interval_join_streams",
    "read_event_stream",
    "run_available_now",
    "running_user_totals",
    "session_window_counts",
    "sliding_window_counts",
    "split_to_silver_and_quarantine",
    "streaming_rate_anomalies",
    "tumbling_window_counts",
    "user_funnel_state",
    "watermarked_dedup",
]
