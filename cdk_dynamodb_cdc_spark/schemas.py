"""Engine schemas (SURVEY.md §1, FIXTURES.md).

``CDC_RECORD_SCHEMA``  — one row per change-stream record, images still in
the marshalled DynamoDB AttributeValue wire encoding (the shape a
DynamoDB-stream / Kinesis / Kafka source delivers; reference reads these
fields at ``dynamo-stream-handler.ts:89-110``).

``CHANGE_EVENT_SCHEMA`` — the engine's result row, mirroring the
reference's ``DynamoItemChangedEvent``
(``/root/reference/lib/lambda/DynamoItemChangedEvent.ts:1-12``) plus
engine-side lineage columns (``event_id``, ``seq``, ``ts``, ``error``).
"""

from __future__ import annotations

from pyspark.sql import types as T

CDC_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.StringType(), True),
        T.StructField("seq", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("operation", T.StringType(), True),
        T.StructField("pk", T.StringType(), True),
        T.StructField("sk", T.StringType(), True),
        T.StructField("old_image", T.StringType(), True),  # marshalled wire JSON
        T.StructField("new_image", T.StringType(), True),  # marshalled wire JSON
        T.StructField("size_bytes", T.LongType(), True),
    ]
)

CHANGE_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.StringType(), True),
        T.StructField("seq", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("operation", T.StringType(), False),
        T.StructField("pk", T.StringType(), True),
        T.StructField("sk", T.StringType(), True),
        T.StructField("attributes_changed", T.ArrayType(T.StringType()), True),
        T.StructField("before", T.StringType(), True),  # changed-only old subtree
        T.StructField("after", T.StringType(), True),  # changed-only new subtree
        T.StructField("new_image", T.StringType(), True),  # inlined when small
        T.StructField("old_image", T.StringType(), True),  # inlined small REMOVEs
        T.StructField("images_url", T.StringType(), True),  # claim-check pointer
    ]
)

CLAIM_CHECK_THRESHOLD = 64 * 1024  # dynamo-stream-handler.ts:130
