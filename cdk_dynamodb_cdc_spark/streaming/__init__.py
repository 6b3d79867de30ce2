from cdk_dynamodb_cdc_spark.streaming.stream import (  # noqa: F401
    dedup_within_watermark,
    initialize_latest_checkpoint,
    interval_join_streams,
    maintain_snapshot_stream,
    parse_cdc_kafka_records,
    read_cdc_kafka_stream,
    read_cdc_stream,
    read_snapshot_store,
    windowed_change_counts,
)
