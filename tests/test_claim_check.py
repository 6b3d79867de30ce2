"""Claim-check side store + retention (A10/A13) tests."""

from __future__ import annotations

import datetime
import json
import os

from pyspark.sql import functions as F

from cdk_dynamodb_cdc_spark.operators.claim_check import (
    side_store_writes,
    vacuum_side_store,
    write_side_store,
)
from cdk_dynamodb_cdc_spark.schemas import CDC_RECORD_SCHEMA
from cdk_dynamodb_cdc_spark.sources.fixtures import cdc_fixture_df, fixture_rows

UTC = datetime.timezone.utc


def test_side_store_selects_oversized_and_sizeless(spark):
    from cdk_dynamodb_cdc_spark.operators.pipeline import project, tag_records

    by_id = {r[0]: r for r in fixture_rows()}
    big = 64 * 1024
    extra = [  # oversized records that emit no event
        ("ev-big-noop", *by_id["ev-noop"][1:-1], big),
        ("ev-big-malformed", *by_id["ev-malformed"][1:-1], big),
    ]
    records = spark.createDataFrame(fixture_rows() + extra, CDC_RECORD_SCHEMA)
    tagged = tag_records(records)
    side = {r.event_id: r for r in side_store_writes(tagged).collect()}
    # >=64 KiB and size 0 take the claim-check branch (JS falsy size);
    # no-ops and failed records have no blob
    assert set(side) == {"ev-big", "ev-zero-size"}
    dead = {r.event_id: r for r in project(tagged, "error").collect()}
    assert set(dead) == {"ev-malformed", "ev-big-malformed"}
    assert dead["ev-big-malformed"].images_url is None
    # blobs hold the canonical images events inline: ev-big has ev-scalar's
    # images, and its old image is ev-remove's
    events = {r.event_id: r for r in project(tagged, "event").collect()}
    assert side["ev-big"].new_image == events["ev-scalar"].new_image
    assert side["ev-big"].old_image == events["ev-remove"].old_image
    assert json.loads(side["ev-big"].old_image)["name"] == "alice"


def test_vacuum_drops_only_expired_partitions(spark, tmp_path):
    base = str(tmp_path / "side")
    today = datetime.datetime.now(UTC).date()
    old_day = today - datetime.timedelta(days=5)

    def fabricate(day, eid):
        spark.createDataFrame(
            [(eid, None, "{}")],
            "event_id string, old_image string, new_image string",
        ).write.parquet(os.path.join(base, f"dt={day.isoformat()}"))

    fabricate(old_day, "ev-ancient")
    fabricate(today, "ev-fresh")

    removed = vacuum_side_store(spark, base, retain_days=2)
    assert [p for p in removed if old_day.isoformat() in p]
    ids = {r.event_id for r in spark.read.parquet(base).collect()}
    assert ids == {"ev-fresh"}


def test_vacuum_keeps_partitions_inside_window(spark, tmp_path):
    base = str(tmp_path / "side")
    records = cdc_fixture_df(spark)
    write_side_store(records, base)
    # fixture ts is 2024-01-01 -> far past the 1-day default retention;
    # with a huge retain_days nothing may be deleted
    assert vacuum_side_store(spark, base, retain_days=10_000) == []


def test_vacuum_missing_store_is_noop(spark, tmp_path):
    assert vacuum_side_store(spark, str(tmp_path / "absent"), 1) == []


def test_claim_checked_rows_point_at_side_store(spark):
    from cdk_dynamodb_cdc_spark.operators.pipeline import cdc_change_events

    records = cdc_fixture_df(spark)
    events = cdc_change_events(records, claim_check_base="x://store/")
    big = {r.event_id: r for r in events.filter(F.col("images_url").isNotNull()).collect()}
    assert set(big) == {"ev-big", "ev-zero-size"}
    assert big["ev-big"].images_url == "x://store/ev-big.json"
    assert big["ev-big"].new_image is None


def test_presigned_claim_urls_validate_and_expire(spark):
    from cdk_dynamodb_cdc_spark.operators.claim_check import (
        presign_claim_urls,
        validate_claim_url,
    )
    from cdk_dynamodb_cdc_spark.operators.pipeline import cdc_change_events

    t0 = F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    events = presign_claim_urls(
        cdc_change_events(cdc_fixture_df(spark), claim_check_base="x://store/"),
        "s3cret",
        ttl_hours=24,
        now=t0,
    )
    signed = {
        r.event_id: r.images_url
        for r in events.filter(F.col("images_url").isNotNull()).collect()
    }
    assert set(signed) == {"ev-big", "ev-zero-size"}
    assert "?expires=" in signed["ev-big"] and "&sig=" in signed["ev-big"]
    # small rows stay null
    assert (
        events.filter(
            (F.col("event_id") == "ev-insert") & F.col("images_url").isNotNull()
        ).count()
        == 0
    )

    url = F.col("images_url")
    inside = F.to_timestamp(F.lit("2026-01-01 23:00:00"))
    after = F.to_timestamp(F.lit("2026-01-02 00:00:01"))
    checks = events.filter(F.col("images_url").isNotNull()).select(
        "event_id",
        validate_claim_url(url, "s3cret", at=inside).alias("ok"),
        validate_claim_url(url, "s3cret", at=after).alias("expired_ok"),
        validate_claim_url(url, "wrong", at=inside).alias("wrong_key_ok"),
        validate_claim_url(
            F.regexp_replace(url, "expires=", "expires=9"), "s3cret", at=inside
        ).alias("tampered_ok"),
    )
    for r in checks.collect():
        assert r.ok, r
        assert not r.expired_ok and not r.wrong_key_ok and not r.tampered_ok, r


def test_gsi_projection_clusters_by_alternate_key(spark, tmp_path):
    from cdk_dynamodb_cdc_spark.operators.gsi import gsi_projection, write_gsi_copy

    df = spark.createDataFrame(
        [(i, f"g{i % 3}", f"s{i}") for i in range(30)],
        "id long, gsipk string, gsisk string",
    )
    out = gsi_projection(df, "gsipk", "gsisk", num_partitions=3)
    # each gsipk value lands wholly inside one partition
    per_part = out.withColumn(
        "part", __import__("pyspark").sql.functions.spark_partition_id()
    ).select("gsipk", "part").distinct()
    counts = per_part.groupBy("gsipk").count().collect()
    assert all(r["count"] == 1 for r in counts)

    path = str(tmp_path / "gsi")
    write_gsi_copy(df, path, "gsipk", "gsisk", buckets=4)
    back = spark.read.parquet(path)
    assert back.count() == 30 and "__bucket" in back.columns
