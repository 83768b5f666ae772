from proto_to_avro_ql_spark.streaming.events import (
    drain_to_memory,
    run_to_end,
    stream_events,
    stream_tumbling_window_agg,
)

__all__ = ["drain_to_memory", "run_to_end", "stream_events", "stream_tumbling_window_agg"]
