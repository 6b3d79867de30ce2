from cdk_dynamodb_cdc_spark.streaming.stream import (  # noqa: F401
    initialize_latest_checkpoint,
    maintain_snapshot_stream,
    read_cdc_stream,
    read_snapshot_store,
)
