"""Old-image reconstruction tests: batch lag-lane and streaming
per-key state carrying images across micro-batches."""

from __future__ import annotations

import datetime
import json

from cdk_dynamodb_cdc_spark.operators.reconstruct import (
    reconstruct_old_images,
    reconstruct_old_images_stream,
)
from cdk_dynamodb_cdc_spark.schemas import CDC_RECORD_SCHEMA

UTC = datetime.timezone.utc
_T0 = datetime.datetime(2024, 1, 1, tzinfo=UTC)


def _img(v):
    return json.dumps({"v": {"N": str(v)}})


def _rec(eid, seq, pk, new, old=None):
    return (eid, seq, _T0 + datetime.timedelta(minutes=seq), "MODIFY",
            pk, "SK", old, new, 64)


def test_batch_reconstruction_fills_previous_version(spark):
    rows = [
        _rec("a1", 1, "A", _img(1)),
        _rec("a2", 2, "A", _img(2)),
        _rec("a3", 3, "A", _img(3)),
        _rec("b1", 1, "B", _img(9)),
    ]
    df = spark.createDataFrame(rows, CDC_RECORD_SCHEMA)
    got = {r.event_id: r.old_image for r in reconstruct_old_images(df).collect()}
    assert got == {"a1": None, "a2": _img(1), "a3": _img(2), "b1": None}


def test_batch_reconstruction_preserves_provided_old_images(spark):
    rows = [
        _rec("a1", 1, "A", _img(1)),
        _rec("a2", 2, "A", _img(2), old=_img(42)),  # source-provided wins
    ]
    df = spark.createDataFrame(rows, CDC_RECORD_SCHEMA)
    got = {r.event_id: r.old_image for r in reconstruct_old_images(df).collect()}
    assert got["a2"] == _img(42)


def test_remove_then_insert_matches_batch_lane(spark, tmp_path):
    """REMOVE (null new_image) must CLEAR per-key state: the next
    INSERT's old_image is null in the batch lane (lag over a null), and
    the streaming lane must agree — not resurrect the pre-REMOVE image."""
    rows = [
        _rec("a1", 1, "A", _img(1)),
        ("a2", 2, _T0 + datetime.timedelta(minutes=2), "REMOVE",
         "A", "SK", _img(1), None, 64),
        ("a3", 3, _T0 + datetime.timedelta(minutes=3), "INSERT",
         "A", "SK", None, _img(7), 64),
    ]
    df = spark.createDataFrame(rows, CDC_RECORD_SCHEMA)
    batch = {r.event_id: r.old_image for r in reconstruct_old_images(df).collect()}
    # the streaming group fn, driven directly over one pandas batch
    import pandas as pd

    from cdk_dynamodb_cdc_spark.operators.reconstruct import _reconstruct_group

    class _FakeState:
        exists = False
        get = None

        def update(self, v):
            self.exists, self.get = True, v

    pdf = pd.DataFrame(
        [{"event_id": r[0], "seq": r[1], "ts": r[2], "operation": r[3],
          "pk": r[4], "sk": r[5], "old_image": r[6], "new_image": r[7],
          "size_bytes": r[8]} for r in rows]
    )
    # streaming fills source nulls from state; provided old images pass through
    pdf.loc[:, "old_image"] = [None, _img(1), None]
    state = _FakeState()
    (out,) = list(_reconstruct_group(("A", "SK"), iter([pdf]), state))
    stream = dict(zip(out["event_id"], out["old_image"]))
    assert batch["a3"] is None  # lag(new_image) over the REMOVE row is null
    assert stream["a3"] is None  # state cleared by the REMOVE
    assert stream["a2"] == _img(1)
    assert state.get == (_img(7),)


def test_stream_reconstruction_carries_state_across_batches(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()

    def write_batch(name, rows, mtime):
        import os
        p = src / name
        with open(p, "w") as fh:
            for (eid, seq, ts, op, pk, sk, old, new, size) in rows:
                fh.write(json.dumps({
                    "event_id": eid, "seq": seq,
                    "ts": ts.strftime("%Y-%m-%dT%H:%M:%S.%f%z"),
                    "operation": op, "pk": pk, "sk": sk,
                    "old_image": old, "new_image": new, "size_bytes": size,
                }) + "\n")
        os.utime(p, (mtime, mtime))

    import time
    now = time.time()
    write_batch("b0.json", [_rec("a1", 1, "A", _img(1)),
                            _rec("a2", 2, "A", _img(2))], now - 60)
    write_batch("b1.json", [_rec("a3", 3, "A", _img(3)),
                            _rec("b1", 1, "B", _img(9))], now)

    stream = (
        spark.readStream.schema(CDC_RECORD_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = reconstruct_old_images_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("recon_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    got = {
        r.event_id: r.old_image
        for r in spark.sql("SELECT event_id, old_image FROM recon_out").collect()
    }
    # a3 arrives in the SECOND micro-batch: its old image must come
    # from state written by the first batch
    assert got == {"a1": None, "a2": _img(1), "a3": _img(2), "b1": None}
