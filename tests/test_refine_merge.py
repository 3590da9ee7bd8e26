"""End-to-end refine → dedup → merge tests (SURVEY D4, J3/J4, S6, W1/W3)."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from scraper_db_refine_merge_spark.operators.merge import insert_if_absent, merge_upsert
from scraper_db_refine_merge_spark.refine import deduplicate_events, refine
from tests.test_functions import ref_generate_unique_id

NOW = datetime(2026, 8, 13, 12, 0, 0, tzinfo=timezone.utc)

RAW_SCHEMA = (
    "title string, url string, venue string, date_text string, "
    "lineup array<struct<name:string,role:string>>, price_text string, "
    "genres array<string>, description string"
)

RAW_ROWS = [
    (
        "Glitterbox",
        "www.ibiza-spotlight.com/night/promoters/hi-glitterbox",
        "hi ibiza",
        "Sunday 25 May 2025",
        [("Dave Lee", "headliner"), ("Melvo Baptiste", None)],
        "From €50.00",
        ["disco", "house"],
        "  The  famous   party  ",
    ),
    (  # duplicate of row 1: same url + same date
        "Glitterbox",
        "www.ibiza-spotlight.com/night/promoters/hi-glitterbox",
        "Hï Ibiza",
        "Sunday 25 May 2025",
        [("Dave Lee", None)],
        None,
        None,
        None,
    ),
    (
        "ANTS Festival Opening",
        "https://www.clubtickets.com/ants/2025-05-31",
        "ushuaia",
        "Sat 31 May 2025",
        [],
        "free",
        ["tech house"],
        None,
    ),
]


@pytest.fixture(scope="module")
def refined(spark):
    raw = spark.createDataFrame(RAW_ROWS, RAW_SCHEMA)
    return refine(raw, "ibiza-spotlight", now=NOW).cache()


def test_refine_ids_match_reference(refined):
    rows = {r["title"]: r for r in refined.collect()}
    g = rows["Glitterbox"]
    assert g["event_id"] == ref_generate_unique_id("ibiza-spotlight", "Glitterbox_Sunday 25 May 2025")
    assert g["venue"]["venue_id"] == ref_generate_unique_id("venue", "Hï Ibiza")
    assert g["acts"][0]["act_id"] == ref_generate_unique_id("artist", "Dave Lee")


def test_refine_structures(refined):
    rows = {}
    for r in refined.collect():  # keep the richer duplicate (2-act lineup)
        if r["title"] not in rows or len(r["acts"]) > len(rows[r["title"]]["acts"]):
            rows[r["title"]] = r
    g = rows["Glitterbox"]
    # venue normalization (F15) + datetime club default (F3) + tz detect (F17)
    assert g["venue"]["name"] == "Hï Ibiza"
    assert g["datetime"]["start_date"] == "2025-05-25T23:00:00Z"
    assert g["datetime"]["timezone"] == "Europe/Madrid"
    # W1: positional headliner in stage acts
    stage_acts = g["venue"]["stages"][0]["acts"]
    assert [a["billing_order"] for a in stage_acts] == [1, 2]
    assert [a["is_headliner"] for a in stage_acts] == [True, False]
    # F16 genres; F9 price → tier
    assert g["music"]["primary_genre"] == "Disco"
    assert g["music"]["sub_genres"] == ["Disco", "House"]
    assert g["ticketing"]["tiers"][0]["tier_price"] == 50.0
    assert g["ticketing"]["is_free"] is False
    # F11 description normalize
    assert g["content"]["full_description"] == "The famous party"
    # quality scored
    assert 0 < g["data_quality"]["overall_score"] <= 1
    assert g["search_blob"].startswith("glitterbox")

    ants = rows["ANTS Festival Opening"]
    assert ants["type"] == "festival"  # F19 classifier
    assert ants["ticketing"]["is_free"] is True
    assert ants["venue"]["name"] == "Ushuaïa"


def test_deduplicate_events(refined):
    deduped = deduplicate_events(refined)
    # rows 1+2 share (source_url-ish, start_date)? row2 url normalizes the same
    assert refined.count() == 3
    assert deduped.count() == 2


def _roundtrip_fixture(spark):
    """Shared MERGE fixture: base {e1:v1, e2:v1}, batch with a within-batch
    duplicate (e2 v2 then v3 — latest must win) plus a fresh key e3.
    Expected final state {e1:v1, e2:v3, e3:v1}."""
    base = spark.createDataFrame(
        [("e1", "v1", 1), ("e2", "v1", 1)], "event_id string, payload string, version int"
    )
    batch = spark.createDataFrame(
        [("e2", "v2", 2), ("e2", "v3", 3), ("e3", "v1", 1)],
        "event_id string, payload string, version int",
    )
    return base, batch


def test_merge_upsert_roundtrip_and_stats(spark, tmp_path):
    target = str(tmp_path / "events_table")
    base, batch = _roundtrip_fixture(spark)

    stats0 = merge_upsert(spark, target, base, ["event_id"], [F.col("version").desc()])
    assert stats0.inserted == 2 and stats0.target_rows_after == 2

    stats = merge_upsert(spark, target, batch, ["event_id"], [F.col("version").desc()])
    assert stats.total_incoming == 3
    assert stats.within_batch_duplicates == 1  # e2 appears twice; latest wins (W3)
    assert stats.updated == 1 and stats.inserted == 1
    assert stats.target_rows_after == 3

    final = {r["event_id"]: r["payload"] for r in spark.read.parquet(target).collect()}
    assert final == {"e1": "v1", "e2": "v3", "e3": "v1"}


def test_insert_if_absent(spark, tmp_path):
    target = str(tmp_path / "proxies")
    first = spark.createDataFrame([("p1",), ("p2",)], "proxy_url string")
    assert insert_if_absent(spark, target, first, ["proxy_url"]) == 2
    again = spark.createDataFrame([("p2",), ("p3",)], "proxy_url string")
    assert insert_if_absent(spark, target, again, ["proxy_url"]) == 1
    assert spark.read.parquet(target).count() == 3
