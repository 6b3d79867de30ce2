"""Storage: the transaction-log table (ACID commits over parquet)."""

from cdk_dynamodb_cdc_spark.storage.txlog import (  # noqa: F401
    TxTable,
    cleanup_log,
    attach_stats,
    merge_into,
    optimize,
    read_txlog_feed,
    restore,
    scan,
    txlog_sink_writer,
)
