"""Old-image reconstruction for NEW_IMAGE-only sources.

The reference gets NEW_AND_OLD_IMAGES from the DynamoDB stream view
(`/root/reference/lib/constructs/dynamo.ts:69`). Many real CDC feeds
(KEYS_ONLY / NEW_IMAGE views, debezium-without-before, app logs) carry
only the new state; this operator derives each record's old image from
the item's previous version.

Batch lane: `lag(new_image)` over the per-key version window — one
shuffle on (pk, sk), which the reference's per-item-key stream ordering
guarantee maps to exactly (SURVEY.md §4 "per-key ordering").

Streaming lane: per-key state holding the last seen image, via
`applyInPandasWithState` (the GroupState API), with the batch lane's
semantics, so a continuous stream needs no window over unbounded
history: state is one image per live item key, the same cache a
DynamoDB shard consumer would keep.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RECONSTRUCTED_SCHEMA = (
    "event_id string, seq long, ts timestamp, operation string, "
    "pk string, sk string, old_image string, new_image string, "
    "size_bytes long"
)
_STATE_SCHEMA = "last_image string"


def reconstruct_old_images(records: DataFrame) -> DataFrame:
    """Batch: fill `old_image` with the previous version's new image
    per (pk, sk), ordered by seq. Existing old_image values win —
    records from a NEW_AND_OLD source pass through untouched."""
    w = Window.partitionBy("pk", "sk").orderBy("seq")
    prev = F.lag("new_image").over(w)
    return records.withColumn(
        "old_image", F.coalesce(F.col("old_image"), prev)
    )


def _reconstruct_group(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (last_image,) = state.get if state.exists else (None,)
    for pdf in batches:
        pdf = pdf.sort_values("seq")
        old_out = []
        for old, new in zip(pdf["old_image"], pdf["new_image"]):
            old_out.append(old if isinstance(old, str) else last_image)
            # Track the raw previous new_image INCLUDING null: a REMOVE
            # (null new_image) must clear the state so a later INSERT
            # sees old_image = null, exactly like the batch lane's
            # lag(new_image). Keeping the last non-null image would hand
            # the INSERT a stale pre-REMOVE image.
            last_image = new if isinstance(new, str) else None
        pdf = pdf.assign(old_image=pd.array(old_out, dtype=object))
        yield pdf
    state.update((last_image,))


def reconstruct_old_images_stream(records: DataFrame) -> DataFrame:
    """Streaming: same semantics with per-(pk, sk) state carrying the
    last image across micro-batches. State size = live item keys x one
    image; no timeout so keys persist like a DynamoDB item would (add
    `GroupStateTimeout.ProcessingTimeTimeout` + TTL for bounded key
    spaces that churn)."""
    return records.groupBy("pk", "sk").applyInPandasWithState(
        _reconstruct_group,
        outputStructType=RECONSTRUCTED_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
