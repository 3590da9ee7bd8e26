"""applyInPandasWithState sessionization: closed sessions emitted, open
sessions retained in state across micro-batches."""

from __future__ import annotations

import threading

import pytest

from scraper_db_refine_merge_spark.streaming.runner import drain, json_stream, land_batches
from scraper_db_refine_merge_spark.streaming.stateful import sessionize_stream

STREAM_SCHEMA = "user_id long, ts timestamp, value double"


def _sessions_through_batch(sessions, checkpoint_dir: str, last_batch_id: int = 2) -> list:
    """Run ``sessions`` with a collecting foreachBatch sink until batch
    ``last_batch_id`` (the first no-data batch after two landed files) has
    run, then stop it and return the collected rows. A processing-time
    timeout makes Spark plan another no-data batch after every batch, so
    this ``availableNow`` query never terminates on its own and ``drain``
    would always time out."""
    collected: list = []
    reached = threading.Event()

    def sink(batch_df, batch_id):
        collected.extend(batch_df.collect())
        if batch_id >= last_batch_id:
            reached.set()

    q = (
        sessions.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    finished = reached.wait(120)
    q.stop()
    assert finished, f"batch {last_batch_id} did not run within 120 s"
    assert q.exception() is None
    return collected


@pytest.mark.slow
def test_stateful_sessionization_across_batches(spark, tmp_path):
    landing = str(tmp_path / "landing")
    land_batches(landing, [
        # batch 1: user 1 has two events 1 min apart; user 2 has one event
        [
            {"user_id": 1, "ts": "2024-01-01 10:00:00", "value": 5.0},
            {"user_id": 1, "ts": "2024-01-01 10:01:00", "value": 7.5},
            {"user_id": 2, "ts": "2024-01-01 10:00:00", "value": 1.0},
        ],
        # batch 2: user 1 returns after 2h (> 30 min gap -> closes session 1);
        # user 2 returns within the gap (extends the open session, no emission)
        [
            {"user_id": 1, "ts": "2024-01-01 12:00:00", "value": 2.0},
            {"user_id": 2, "ts": "2024-01-01 10:05:00", "value": 3.0},
        ],
    ])

    stream = json_stream(spark, landing, STREAM_SCHEMA)
    sessions = sessionize_stream(stream, gap_minutes=30.0)

    collected = _sessions_through_batch(sessions, str(tmp_path / "ckpt"))

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
    landing = str(tmp_path / "landing")
    land_batches(landing, [
        # batch 1: only user 1
        [{"user_id": 1, "ts": "2024-01-01 10:00:00", "value": 4.0}],
        # batch 2: only user 2 — by the time this batch runs, user 1's tiny
        # processing-time timeout (60 ms) has long expired, so their open
        # session is flushed via the hasTimedOut branch.
        [{"user_id": 2, "ts": "2024-01-01 10:00:30", "value": 1.0}],
    ])

    stream = json_stream(spark, landing, STREAM_SCHEMA)
    sessions = sessionize_stream(stream, gap_minutes=0.001)  # 60 ms timeout

    collected = _sessions_through_batch(sessions, str(tmp_path / "ckpt"))

    flushed = [r for r in collected if r["user_id"] == 1]
    assert len(flushed) == 1, f"user 1's open session not flushed: {collected}"
    assert flushed[0]["n_events"] == 1
    assert flushed[0]["total_value"] == 4.0


@pytest.mark.slow
def test_stream_ingest_partitioned_merge(spark, tmp_path):
    """Partition-pruned streaming MERGE: cross-batch re-scrape updates in
    place, table lands hive-partitioned by event_date."""
    from scraper_db_refine_merge_spark.streaming.pipeline import stream_ingest

    landing = str(tmp_path / "landing")
    base = {
        "title": "Party A", "url": "u", "venue": "amnesia", "date_text": "5 May 2025",
        "lineup": [], "price_text": "10€", "genres": [], "description": "v1",
        "scraped_at": "2025-05-01T00:00:00Z",
    }
    rescrape = dict(base, description="v2", scraped_at="2025-05-02T00:00:00Z")
    other = dict(base, title="Party B", date_text="6 May 2025")
    land_batches(landing, [[base], [rescrape, other]])

    target = str(tmp_path / "events")
    q = stream_ingest(
        spark, landing, target, str(tmp_path / "ck"),
        metrics_path=str(tmp_path / "m"), max_files_per_trigger=1,
        partition_by_event_date=True,
    )
    drain(q, timeout_s=120)

    from scraper_db_refine_merge_spark.streaming import store as st

    t = st.read_table(spark, target)
    rows = {r["title"]: r for r in t.collect()}
    assert set(rows) == {"Party A", "Party B"}
    assert rows["Party A"]["content"]["full_description"] == "v2"  # latest won
    # hive partitions in the live snapshot's manifest: one per event date
    entry = st._manifest_of(st.store_version_dir(target))[st._DEFAULT]
    parts = sorted(p.rsplit("/", 1)[1] for p in entry["parts"])
    assert parts == ["event_date=2025-05-05", "event_date=2025-05-06"]
