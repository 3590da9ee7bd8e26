"""Tests for the API query surface + reports + writers over a refined corpus."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from scraper_db_refine_merge_spark.plans import api_queries as api
from scraper_db_refine_merge_spark.plans import reports
from scraper_db_refine_merge_spark.refine import refine
from scraper_db_refine_merge_spark.sources.writers import (
    export_for_app,
    render_markdown,
    write_csv,
    write_json,
)

NOW = datetime(2025, 5, 1, 12, 0, 0, tzinfo=timezone.utc)

VENUES = ["hi ibiza", "amnesia", "dc-10", "pacha", "Las Dalias"]


def _raw_rows():
    rows = []
    for i in range(40):
        venue = VENUES[i % len(VENUES)]
        day = (i % 28) + 1
        month = "May" if i % 3 else "April"  # 2/3 future (after 2025-05-01), 1/3 past
        lineup = [(f"Artist {i}", "headliner"), (f"Support {i}", None)] if i % 4 else []
        price = f"{20 + i}€" if i % 5 else "free"
        rows.append(
            (
                f"Party Night {i} 2025",
                f"www.example.com/events/{i}",
                venue,
                f"{day} {month} 2025",
                lineup,
                price,
                ["techno"] if i % 2 else ["tech house"],
                f"Description of party {i}",
            )
        )
    return rows


@pytest.fixture(scope="module")
def corpus(spark):
    raw = spark.createDataFrame(
        _raw_rows(),
        "title string, url string, venue string, date_text string, "
        "lineup array<struct<name:string,role:string>>, price_text string, "
        "genres array<string>, description string",
    )
    return refine(raw, "test-platform", now=NOW).cache()


def test_get_events_filters_and_sort(corpus):
    rows = api.get_events(corpus, min_quality=0.0, future_only=True, limit=100, now=NOW).collect()
    assert rows, "expected future events"
    dates = [r["start_date"] for r in rows]
    assert dates == sorted(dates)
    assert all(d >= "2025-05-01" for d in dates)
    # venue regex filter, case-insensitive substring
    hi = api.get_events(
        corpus, min_quality=0.0, venue="hï", future_only=False, limit=100, now=NOW
    ).collect()
    assert hi and all(r["venue_name"] == "Hï Ibiza" for r in hi)


def test_get_events_pagination(corpus):
    all_rows = api.get_events(corpus, min_quality=0.0, future_only=False, limit=10, now=NOW).collect()
    page2 = api.get_events(
        corpus, min_quality=0.0, future_only=False, limit=5, skip=5, now=NOW
    ).collect()
    assert [r["event_id"] for r in page2] == [r["event_id"] for r in all_rows[5:10]]


def test_get_event_by_id(corpus):
    some = corpus.select("event_id").first()["event_id"]
    got = api.get_event_by_id(corpus, some).collect()
    assert len(got) == 1 and got[0]["event_id"] == some


def test_search_events(corpus):
    hits = api.search_events(corpus, "party 2025", min_quality=0.0, limit=50).collect()
    assert hits
    rel = [r["relevance"] for r in hits]
    assert rel == sorted(rel, reverse=True)
    miss = api.search_events(corpus, "nonexistenttoken", min_quality=0.0).collect()
    assert miss == []


def test_venue_rollups(corpus):
    venues = api.get_venues(corpus, now=NOW).collect()
    assert {v["venueName"] for v in venues} == {"Hï Ibiza", "Amnesia", "DC10", "Pacha", "Las Dalias"}
    counts = [v["eventCount"] for v in venues]
    assert counts == sorted(counts, reverse=True)
    assert sum(counts) == 40
    assert all(v["upcomingEvents"] <= v["eventCount"] for v in venues)

    top = api.get_top_venues(corpus, k=3).collect()
    assert len(top) == 3
    q = [v["averageQuality"] for v in top]
    assert q == sorted(q, reverse=True)


def test_venue_events_and_upcoming(corpus):
    rows = api.get_venue_events(corpus, "amnesia", limit=100).collect()
    assert rows and all(r["venue_name"] == "Amnesia" for r in rows)
    up = api.get_upcoming_events(corpus, days=10, min_quality=0.0, limit=100, now=NOW).collect()
    assert all("2025-05-01" <= r["start_date"] <= "2025-05-11" for r in up)


def test_quality_stats(corpus):
    s = api.get_quality_stats(corpus).first()
    assert s["totalEvents"] == 40
    assert s["excellent"] + s["good"] + s["fair"] + s["poor"] == 40
    assert 0 < s["averageQuality"] <= 1


def test_mark_for_refresh(corpus):
    some = corpus.select("event_id").first()["event_id"]
    flagged = api.mark_for_refresh(corpus, some, now=NOW)
    hit = flagged.filter(F.col("event_id") == some).first()
    other = flagged.filter(F.col("event_id") != some).first()
    assert hit["system_flags"]["needs_refresh"] is True
    assert hit["system_flags"]["refresh_requested_at"] is not None
    assert other["system_flags"]["needs_refresh"] is False


def test_sitemap_urls(corpus):
    urls = [r["url"] for r in api.sitemap_urls(corpus).collect()]
    assert len(urls) == 40 and urls == sorted(urls)


def test_reports(corpus):
    dist = reports.date_distribution(corpus).collect()
    assert sum(r["count"] for r in dist) == 40
    assert [r["date"] for r in dist] == sorted(r["date"] for r in dist)

    hist = reports.quality_histogram(corpus).collect()
    assert sum(r["count"] for r in hist) == 40

    stats = reports.quality_statistics(corpus).first()
    assert stats["total_events"] == 40
    assert stats["avg_title_quality"] is not None

    mc = reports.month_comparison(corpus, "2025-04", "2025-05").collect()
    assert {r["month"] for r in mc} == {"2025-04", "2025-05"}

    low = reports.low_quality_events(corpus, threshold=1.1, limit=100).collect()
    assert len(low) == 40  # every event is below 1.1

    summary = reports.quality_summary_report(corpus).collect()
    assert all(
        r["quality_level"] in {"Excellent", "Good", "Fair", "Poor", "Very Poor"} for r in summary
    )

    prof = {r["field_name"]: r["docs_with_field"] for r in reports.field_presence_profile(corpus).collect()}
    assert prof["title"] == 40
    assert prof["acts"] == 30  # i % 4 == 0 rows have empty lineup


def test_writers(spark, corpus, tmp_path):
    summary = api.get_events(corpus, min_quality=0.0, future_only=False, limit=10, now=NOW)
    jp, cp = str(tmp_path / "j"), str(tmp_path / "c")
    write_json(summary, jp)
    assert spark.read.json(jp).count() == 10
    write_csv(corpus.select("event_id", "title", "acts"), cp)
    back = spark.read.option("header", True).csv(cp)
    assert back.count() == 40
    assert back.columns == sorted(["event_id", "title", "acts"])

    exported = export_for_app(corpus, min_quality=0.0, limit=5)
    assert "data_quality" not in exported.columns
    assert exported.count() == 5
    assert "raw_data" not in exported.select("scraping_metadata.*").columns

    md = render_markdown(summary.limit(3).collect(), "Test Report")
    assert md.startswith("# Test Report") and "## 1." in md


def test_find_events_by_artist_and_promoter(corpus):
    # P5: any-element array match on acts; refined corpus gives headliners
    # names like "Artist 1"
    hits = api.find_events_by_artist(corpus, "Artist 1").collect()
    assert len(hits) == 1 and "Party Night 1" in hits[0]["title"]
    assert api.find_events_by_artist(corpus, "No Such Artist").count() == 0
    # exact venue equality (P4) vs the regex endpoint
    exact = api.find_events_by_venue(corpus, "Amnesia", limit=50).collect()
    assert exact and all(r["venue_name"] == "Amnesia" for r in exact)
    # promoter path is null-safe over missing stages
    assert api.find_events_by_promoter(corpus, "Anyone").count() == 0


def test_field_type_profile_and_first_hosts(corpus):
    prof = {
        (r["field"], r["runtime_type"]): r["n"]
        for r in reports.field_type_profile(
            corpus, ["title", "data_quality.overall_score"]
        ).collect()
    }
    assert prof[("title", "string")] == 40
    assert prof[("data_quality.overall_score", "double")] == 40
    hosts = reports.first_stage_hosts(corpus).collect()
    assert len(hosts) == 40  # null promoter when stages are absent, row kept


def test_event_cards_counts_and_previews(corpus):
    rows = api.event_cards(corpus, limit=100).collect()
    assert len(rows) == 40
    with_lineup = [r for r in rows if r["artist_count"] > 0]
    assert with_lineup, "expected some events with lineups"
    for r in with_lineup:
        assert len(r["artist_preview"]) == min(r["artist_count"], 3)
        assert r["artist_preview"][0].startswith(("Artist", "Support"))
