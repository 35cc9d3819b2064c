from .demo import (
    read_events_stream,
    streaming_dedup,
    streaming_tumbling_counts,
    write_stream_foreach_batch,
)

__all__ = [
    "read_events_stream",
    "streaming_tumbling_counts",
    "streaming_dedup",
    "write_stream_foreach_batch",
]
