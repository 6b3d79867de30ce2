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
    # with a huge retain_days nothing may be deleted
    assert vacuum_side_store(spark, base, retain_days=10_000) == []


def test_backfilled_blobs_outlive_vacuum(spark, tmp_path):
    """A backfill of records dated two or more days ago keeps its blobs
    through the 1-day retention: `dt` is the write date, not the
    event date, so no presigned pointer dangles seconds after the
    write."""
    base = str(tmp_path / "side")
    records = cdc_fixture_df(spark)
    before = datetime.datetime.now(UTC).date()
    assert records.filter(
        F.to_date("ts") > F.lit(before - datetime.timedelta(days=2))
    ).count() == 0
    write_side_store(records, base)
    after = datetime.datetime.now(UTC).date()

    assert vacuum_side_store(spark, base, retain_days=1) == []
    rows = spark.read.parquet(base).collect()
    assert {r.event_id for r in rows} == {"ev-big", "ev-zero-size"}
    assert {r.dt for r in rows} <= {before, after}
    # a cutoff one day past the write date (as a run two days on with
    # retain_days=1 would use) drops them
    assert len(vacuum_side_store(spark, base, retain_days=-1)) == 1


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

