from notion_vector_store_etl_pipeline_spark.streaming.dedup_stream import (
    probe_batch,
    streaming_dedup_ingest,
)
from notion_vector_store_etl_pipeline_spark.streaming.ann_stream import (
    load_stream_ann_state,
    streaming_vector_ingest,
)

__all__ = [
    "probe_batch",
    "streaming_dedup_ingest",
    "streaming_vector_ingest",
    "load_stream_ann_state",
]
