from hh_rumors_presto_spark.streaming.helpers import (
    fold_stream_state,
    read_events_stream,
    run_stream_to_df,
)

__all__ = ["fold_stream_state", "read_events_stream", "run_stream_to_df"]
