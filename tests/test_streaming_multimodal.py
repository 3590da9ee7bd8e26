"""Streaming ingestion (ST1-ST5) and multimodal plumbing tests."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from scraper_db_refine_merge_spark.multimodal.binary import (
    FEATURE_DIM,
    MEDIA_SCHEMA,
    extract_features,
    sample_video_frames,
)
from scraper_db_refine_merge_spark.streaming.pipeline import (
    fresh_rows,
    refresh_queue,
    stream_ingest,
    windowed_event_counts,
)
from scraper_db_refine_merge_spark.streaming.runner import drain, land_batches

NOW = datetime(2025, 5, 1, 12, 0, 0, tzinfo=timezone.utc)


def _raw_event(i: int, title: str) -> dict:
    return {
        "title": title,
        "url": f"https://www.example.com/events/{i}",
        "venue": "amnesia",
        "date_text": f"{(i % 28) + 1} May 2025",
        "lineup": [{"name": f"DJ {i}", "role": "dj"}],
        "price_text": "30€",
        "genres": ["techno"],
        "description": f"evt {i}",
    }


@pytest.mark.slow
def test_stream_ingest_upserts(spark, tmp_path):
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "events_table")
    metrics = str(tmp_path / "metrics")
    ckpt1, ckpt2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")

    batch1 = [_raw_event(i, f"Stream Party {i}") for i in range(5)]
    land_batches(landing, [batch1])
    drain(stream_ingest(spark, landing, target, ckpt1, metrics_path=metrics), timeout_s=120)
    assert spark.read.parquet(target).count() == 5

    # re-scrape: same (title, date_text) → same event_id → upsert, plus 2 new
    # (batch 0 is re-landed byte-identical)
    land_batches(landing, [batch1, [_raw_event(i, f"Stream Party {i}") for i in range(3, 8)]])
    drain(stream_ingest(spark, landing, target, ckpt2, metrics_path=metrics), timeout_s=120)

    final = spark.read.parquet(target)
    # ckpt2 is fresh so batch2 re-reads both files → still 8 unique events
    assert final.count() == 8
    assert final.select("event_id").distinct().count() == 8

    m = spark.read.parquet(metrics)
    assert m.count() >= 2
    assert {r["inserted"] for r in m.collect()} >= {5}


def test_stream_ingest_merge_stats_per_batch(spark, tmp_path):
    """Every micro-batch's MergeStats, exactly, with refine applied once to
    the stream. The target is read in the stream's cloned session, where
    the merge's observations fire; read in the outer session they never
    fire and the second batch waits forever — hence the bounded wait. With
    ``now=None`` the whole run shares one scrape time."""
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "events_table")
    metrics = str(tmp_path / "metrics")
    # file 0: events 0-3 plus a byte-identical copy of event 1;
    # file 1: re-scrapes of 2 and 3, new 4 and 5, plus a copy of event 5
    files = [[0, 1, 2, 3, 1], [2, 3, 4, 5, 5]]
    land_batches(landing, [
        [_raw_event(i, f"Stream Party {i}") | {"description": f"v{version}"} for i in members]
        for version, members in enumerate(files)
    ])

    q = stream_ingest(
        spark, landing, target, str(tmp_path / "ck"), metrics_path=metrics,
        max_files_per_trigger=1,
    )
    drain(q, timeout_s=240)  # raises if unfinished or failed
    assert q.exception() is None

    cols = ["incoming", "within_batch_duplicates", "updated", "inserted", "target_rows_after"]
    got = [tuple(r) for r in spark.read.parquet(metrics).orderBy("batch_id").select(*cols).collect()]
    assert got == [(5, 1, 0, 4, 4), (5, 1, 2, 2, 6)]

    final = spark.read.parquet(target)
    latest = final.select("title", F.col("content.full_description").alias("d")).collect()
    assert sorted((r["title"], r["d"]) for r in latest) == [
        (f"Stream Party {i}", "v0" if i < 2 else "v1") for i in range(6)
    ]
    assert final.select("scraping_metadata.last_scraped").distinct().count() == 1


def test_fresh_rows_and_refresh_queue(spark):
    rows = [
        ("e1", "https://x/1", (NOW - timedelta(hours=1)).isoformat(), "2025-06-01T23:00:00Z", False),
        ("e2", "https://x/2", (NOW - timedelta(days=10)).isoformat(), "2025-06-01T23:00:00Z", False),
        ("e3", "https://x/3", (NOW - timedelta(days=40)).isoformat(), "2025-06-01T23:00:00Z", False),
        ("e4", "https://x/4", (NOW - timedelta(hours=2)).isoformat(), "2025-06-01T23:00:00Z", True),
    ]
    df = spark.createDataFrame(
        rows, "event_id string, url string, scraped string, start string, flagged boolean"
    ).select(
        "event_id",
        F.struct(
            F.col("url").alias("source_url"), F.col("scraped").alias("last_scraped")
        ).alias("scraping_metadata"),
        F.struct(F.col("start").alias("start_date")).alias("datetime"),
        F.struct(F.col("flagged").alias("needs_refresh")).alias("system_flags"),
    )
    fresh = fresh_rows(df, "scraping_metadata.last_scraped", max_age_hours=24, now=NOW)
    assert {r["event_id"] for r in fresh.collect()} == {"e1", "e4"}

    queue = {r["event_id"]: r["reason"] for r in refresh_queue(df, now=NOW).collect()}
    assert queue == {
        "e2": "stale_scrape",
        "e3": "stale_scrape",
        "e4": "explicit_refresh_request",
    }


def test_windowed_counts_batch_analog(spark):
    from scraper_db_refine_merge_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "events")
    w = windowed_event_counts(e).collect()
    assert sum(r["event_count"] for r in w) == e.count()
    assert len(w) == 30  # one window per January day


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        ("img1", "image", "image/png", b"\x89PNG fake image bytes 1", ("https://x/1.png", 100, 50, None, 23)),
        ("img2", "image", "image/jpeg", b"\xff\xd8 fake jpeg 2", ("https://x/2.jpg", 64, 64, None, 12)),
        ("aud1", "audio", "audio/wav", b"RIFF fake wav", ("https://x/a.wav", None, None, 1000, 13)),
        ("vid1", "video", "video/mp4", b"\x00" * 200000, ("https://x/v.mp4", 1920, 1080, 60000, 200000)),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA).cache()


def test_media_feature_extraction(media):
    feats = extract_features(media).collect()
    by_id = {r["media_id"]: r for r in feats}
    assert len(by_id) == 4
    for r in feats:
        assert len(r["features"]) == FEATURE_DIM
        assert all(-1.0 <= x <= 1.0 for x in r["features"])
    # deterministic across runs
    again = {r["media_id"]: r["features"] for r in extract_features(media).collect()}
    assert again == {k: v["features"] for k, v in by_id.items()}


def test_video_frame_sampling(media):
    frames = sample_video_frames(media).collect()
    assert {f["media_id"] for f in frames} == {"vid1"}
    assert [f["frame_index"] for f in sorted(frames, key=lambda f: f["frame_offset"])] == [0, 1, 2, 3]


def _media_stats(media):
    """Metadata-only aggregate over the media table's typed struct."""
    return media.groupBy("media_type").agg(
        F.count("*").alias("n"),
        F.sum("metadata.size_bytes").alias("total_bytes"),
    )


def test_media_stats_prunes_blob(spark, media, tmp_path):
    stats = {r["media_type"]: r["n"] for r in _media_stats(media).collect()}
    assert stats == {"image": 2, "audio": 1, "video": 1}
    # against a parquet scan, column pruning must exclude the blob column
    path = str(tmp_path / "media")
    media.write.parquet(path)
    plan = _media_stats(spark.read.parquet(path))._jdf.queryExecution().executedPlan().toString()
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "content" not in read_schema[0]


def test_q66_runs_at_smoke_sf(spark, sf_dir):
    from scraper_db_refine_merge_spark.plans.multimodalq import q66_audio_features

    out = q66_audio_features(spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    assert all(r["feat_dim"] == FEATURE_DIM for r in rows)
