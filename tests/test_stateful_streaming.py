"""applyInPandasWithState sessionization: closed sessions emitted, open
sessions retained in state across micro-batches."""

from __future__ import annotations

import pytest
import json
import os

from scraper_db_refine_merge_spark.streaming.stateful import sessionize_stream

STREAM_SCHEMA = "user_id long, ts timestamp, value double"


def _write_batch(path: str, rows: list[dict], mtime: float) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.utime(path, (mtime, mtime))


@pytest.mark.slow
def test_stateful_sessionization_across_batches(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    # batch 1: user 1 has two events 1 min apart; user 2 has one event
    _write_batch(
        str(landing / "001.json"),
        [
            {"user_id": 1, "ts": "2024-01-01 10:00:00", "value": 5.0},
            {"user_id": 1, "ts": "2024-01-01 10:01:00", "value": 7.5},
            {"user_id": 2, "ts": "2024-01-01 10:00:00", "value": 1.0},
        ],
        mtime=1_700_000_000,
    )
    # batch 2: user 1 returns after 2h (> 30 min gap -> closes session 1);
    # user 2 returns within the gap (extends the open session, no emission)
    _write_batch(
        str(landing / "002.json"),
        [
            {"user_id": 1, "ts": "2024-01-01 12:00:00", "value": 2.0},
            {"user_id": 2, "ts": "2024-01-01 10:05:00", "value": 3.0},
        ],
        mtime=1_700_000_060,
    )

    stream = (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    sessions = sessionize_stream(stream, gap_minutes=30.0)

    collected: list = []

    def sink(batch_df, batch_id):
        collected.extend(batch_df.collect())

    q = (
        sessions.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    assert len(collected) == 1, f"expected exactly one closed session, got {collected}"
    row = collected[0]
    assert row["user_id"] == 1
    assert row["n_events"] == 2
    assert row["total_value"] == 12.5
    assert str(row["session_start"]) == "2024-01-01 10:00:00"
    assert str(row["session_end"]) == "2024-01-01 10:01:00"


@pytest.mark.slow
def test_stateful_sessionization_idle_timeout_flushes_open_session(spark, tmp_path):
    """A user who never returns must still get their open session emitted:
    the processing-time timeout (= the gap) fires on a later batch with no
    data for that user, flushes the session, and removes the state."""
    landing = tmp_path / "landing"
    landing.mkdir()
    # batch 1: only user 1
    _write_batch(
        str(landing / "001.json"),
        [{"user_id": 1, "ts": "2024-01-01 10:00:00", "value": 4.0}],
        mtime=1_700_000_000,
    )
    # batch 2: only user 2 — by the time this batch runs, user 1's tiny
    # processing-time timeout (60 ms) has long expired, so their open
    # session is flushed via the hasTimedOut branch.
    _write_batch(
        str(landing / "002.json"),
        [{"user_id": 2, "ts": "2024-01-01 10:00:30", "value": 1.0}],
        mtime=1_700_000_060,
    )

    stream = (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    sessions = sessionize_stream(stream, gap_minutes=0.001)  # 60 ms timeout

    collected: list = []

    q = (
        sessions.writeStream.foreachBatch(lambda b, _: collected.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    flushed = [r for r in collected if r["user_id"] == 1]
    assert len(flushed) == 1, f"user 1's open session not flushed: {collected}"
    assert flushed[0]["n_events"] == 1
    assert flushed[0]["total_value"] == 4.0


@pytest.mark.slow
def test_stream_ingest_partitioned_merge(spark, tmp_path):
    """Partition-pruned streaming MERGE: cross-batch re-scrape updates in
    place, table lands hive-partitioned by event_date."""
    import json as _json
    import os as _os

    from scraper_db_refine_merge_spark.streaming.pipeline import stream_ingest

    landing = tmp_path / "landing"
    landing.mkdir()
    base = {
        "title": "Party A", "url": "u", "venue": "amnesia", "date_text": "5 May 2025",
        "lineup": [], "price_text": "10€", "genres": [], "description": "v1",
        "scraped_at": "2025-05-01T00:00:00Z",
    }
    (landing / "a.json").write_text(_json.dumps(base) + "\n")
    rescrape = dict(base, description="v2", scraped_at="2025-05-02T00:00:00Z")
    other = dict(base, title="Party B", date_text="6 May 2025")
    (landing / "b.json").write_text(_json.dumps(rescrape) + "\n" + _json.dumps(other) + "\n")
    _os.utime(landing / "a.json", (1_700_000_000, 1_700_000_000))
    _os.utime(landing / "b.json", (1_700_000_100, 1_700_000_100))

    target = str(tmp_path / "events")
    q = stream_ingest(
        spark, str(landing), target, str(tmp_path / "ck"),
        metrics_path=str(tmp_path / "m"), max_files_per_trigger=1,
        partition_by_event_date=True,
    )
    q.awaitTermination(120)

    from scraper_db_refine_merge_spark.operators.merge import (
        _view_mapping,
        read_partitioned_table,
    )
    from scraper_db_refine_merge_spark.streaming.store import store_version_dir

    t = read_partitioned_table(spark, target)
    rows = {r["title"]: r for r in t.collect()}
    assert set(rows) == {"Party A", "Party B"}
    assert rows["Party A"]["content"]["full_description"] == "v2"  # latest won
    # hive partitions in the live snapshot's manifest: one per event date
    parts = sorted(_view_mapping(store_version_dir(target)))
    assert parts == ["event_date=2025-05-05", "event_date=2025-05-06"]
