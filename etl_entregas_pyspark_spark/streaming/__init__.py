from etl_entregas_pyspark_spark.streaming.admission import (
    admission_batch,
    batch_admission_counts,
    read_admission_ledger,
    start_admission_sink,
)
from etl_entregas_pyspark_spark.streaming.stateful import (
    running_user_totals,
    streaming_debounce,
    streaming_transitions,
)
from etl_entregas_pyspark_spark.streaming.streams import (
    EVENTS_SCHEMA,
    dedup_stream,
    read_event_stream,
    sessionized_stream,
    start_memory_sink,
    stream_stream_join,
    enriched_counts_stream,
    tumbling_counts_stream,
)

__all__ = [
    "EVENTS_SCHEMA",
    "admission_batch",
    "batch_admission_counts",
    "read_admission_ledger",
    "start_admission_sink",
    "read_event_stream",
    "dedup_stream",
    "enriched_counts_stream",
    "tumbling_counts_stream",
    "sessionized_stream",
    "stream_stream_join",
    "start_memory_sink",
    "running_user_totals",
    "streaming_debounce",
    "streaming_transitions",
]
