"""Multimodal binary-column plumbing (SURVEY.md §2C).

Images/audio/video are opaque `binary` payload columns plus typed
metadata, processed by Arrow-batched `mapInPandas` stages — the same
claim-check pattern the CDC pipeline uses for oversized images
(operators/pipeline.py A10) generalized to media.

The container has no image/audio codecs, so the DECODE step is a
deterministic fake (documented below) while everything Spark-side —
BinaryType schema, Arrow batch shape, multi-row emission
(frame sampling), partition-preserving plumbing — is real and tested.
`fake_decode` derives metadata purely from the byte length so oracles
can replicate it; a real deployment swaps in a codec call there.

Scale: both UDF stages are per-row / per-batch (no shuffle, no state);
a 100 TB media corpus streams through executors at Arrow-batch
granularity with the binary column never leaving the JVM->Arrow path
except inside each batch.
"""

from __future__ import annotations

from collections.abc import Iterator

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "doc_id bigint, media_type string, n_bytes bigint, "
    "width int, height int, n_frames int"
)
FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_offset bigint"


def attach_binary_payload(docs: DataFrame) -> DataFrame:
    """Fabricate a media table from `documents`: the UTF-8 text bytes
    stand in for an encoded media payload (deterministic, so DuckDB
    can reproduce all byte-length-derived metadata via
    octet_length(encode(text)))."""
    return docs.select(
        "doc_id",
        F.when(F.col("source").isin("src0", "src1"), "image")
        .when(F.col("source").isin("src2", "src3"), "audio")
        .otherwise("video")
        .alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )


def _fake_dims(n_bytes: int) -> tuple[int, int, int]:
    """Deterministic stand-in for a codec header parse.

    width  = n_bytes % 64 + 16
    height = (n_bytes // 64) % 64 + 16
    frames = n_bytes % 7 + 1
    """
    return n_bytes % 64 + 16, (n_bytes // 64) % 64 + 16, n_bytes % 7 + 1


def fake_decode(payload: bytes) -> tuple[int, int, int, int]:
    n = len(payload)
    w, h, fr = _fake_dims(n)
    return n, w, h, fr


def decode_media_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas stage: payload -> metadata via the fake decoder."""
    for pdf in batches:
        meta = [fake_decode(p) for p in pdf["payload"]]
        out = pd.DataFrame(
            meta, columns=["n_bytes", "width", "height", "n_frames"],
            index=pdf.index,
        )
        yield pd.concat(
            [pdf[["doc_id", "media_type"]], out], axis=1
        )


def decode_metadata(media: DataFrame) -> DataFrame:
    """Media payloads -> typed metadata rows (Arrow-batched)."""
    return media.mapInPandas(decode_media_batches, schema=DECODED_SCHEMA)


def sample_frame_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas stage emitting MULTIPLE rows per input: one row per
    sampled frame with its byte offset — the UDTF/explode shape for
    video frame extraction."""
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n, _, _, n_frames = fake_decode(payload)
            stride = n // n_frames
            rows.extend(
                (doc_id, i, i * stride) for i in range(n_frames)
            )
        yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame_offset"])


def sample_frames(media: DataFrame) -> DataFrame:
    """Video payloads -> one row per evenly-spaced sampled frame."""
    return media.filter(F.col("media_type") == "video").mapInPandas(
        sample_frame_batches, schema=FRAME_SCHEMA
    )


RESIZE_MAX_DIM = 32
TRANSFORM_SCHEMA = (
    "doc_id bigint, media_type string, new_width int, new_height int, "
    "out_bytes bigint, n_space int, n_vowel int, n_other int, "
    "feat_norm double"
)

_VOWELS = frozenset(b"aeiou")


def resize_dims(w: int, h: int, max_dim: int = RESIZE_MAX_DIM) -> tuple[int, int]:
    """Aspect-preserving integer resize arithmetic (the part of an
    image-resize stage that is NOT the codec): longest side capped at
    ``max_dim``, floor division, floor 1. Pure integers so the oracle
    reproduces it exactly."""
    m = max(w, h)
    if m <= max_dim:
        return w, h
    return max(1, w * max_dim // m), max(1, h * max_dim // m)


def transform_media_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas stage combining the two remaining media transforms:

    * resize — fake-decoded dims pushed through :func:`resize_dims`;
      ``out_bytes`` is the resized raster size (new_w * new_h), the
      quantity a real pipeline would budget shuffle/storage by;
    * feature extraction — a deterministic 3-bucket byte histogram
      (space / vowel / other) plus its L2 norm, standing in for an
      embedding head. Real deployments swap the histogram for a model
      forward pass; batch shape, schema, and normalization stay.
    """
    for pdf in batches:
        rows = []
        for doc_id, mtype, payload in zip(
            pdf["doc_id"], pdf["media_type"], pdf["payload"]
        ):
            n, w, h, _ = fake_decode(payload)
            nw, nh = resize_dims(w, h)
            ns = payload.count(b" ")
            nv = sum(payload.count(bytes([v])) for v in _VOWELS)
            no = n - ns - nv
            # math.sqrt, not ** 0.5: pow(x, 0.5) is not correctly
            # rounded and drifted 1 ulp from SQL sqrt on ~0.1% of rows
            norm = math.sqrt(ns * ns + nv * nv + no * no)
            rows.append((doc_id, mtype, nw, nh, nw * nh, ns, nv, no, norm))
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "media_type", "new_width", "new_height",
                "out_bytes", "n_space", "n_vowel", "n_other", "feat_norm",
            ],
        )


def transform_media(media: DataFrame) -> DataFrame:
    """Resize + feature-extract metadata for every media row."""
    return media.mapInPandas(transform_media_batches, schema=TRANSFORM_SCHEMA)
