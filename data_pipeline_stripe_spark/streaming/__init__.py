from .events import (
    drain,
    read_event_stream,
    windowed_event_counts,
    sessionized_event_counts,
    sessionize_with_timeout,
    stateful_running_totals,
    enrich_with_dim,
    dedup_event_stream,
    purchase_click_attribution,
    write_partitioned_exactly_once,
    merge_stream_into_table,
    run_to_memory,
)

__all__ = [
    "drain",
    "read_event_stream",
    "windowed_event_counts",
    "sessionized_event_counts",
    "sessionize_with_timeout",
    "stateful_running_totals",
    "enrich_with_dim",
    "dedup_event_stream",
    "purchase_click_attribution",
    "write_partitioned_exactly_once",
    "merge_stream_into_table",
    "run_to_memory",
]
