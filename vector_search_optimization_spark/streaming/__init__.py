from .windows import (  # noqa: F401
    asof_click_purchase_stream,
    first_seen_dedup_stream,
    read_events_stream,
    running_user_stats_stream,
    sessionized_counts_stream,
    sliding_window_agg,
    tumbling_window_agg,
)
from .index_maintenance import stream_append_to_ivf_index  # noqa: F401
from .dedup_maintenance import stream_dedup_against_corpus  # noqa: F401
from .heavy_hitters import heavy_hitter_monitor_stream  # noqa: F401
