"""streaming/runner.py: batch order from mtime, and ``drain``'s bounded,
failure-propagating wait."""

from __future__ import annotations

import os

import pytest

from scraper_db_refine_merge_spark.streaming.runner import (
    drain,
    json_stream,
    land_batches,
    start,
)

SCHEMA = "k long"


def test_land_batches_orders_files_by_mtime(tmp_path):
    landing = str(tmp_path / "landing")
    land_batches(landing, [[{"k": 1}, {"k": 2}], [], [{"k": 3}]])
    names = sorted(os.listdir(landing), key=lambda n: os.path.getmtime(os.path.join(landing, n)))
    assert names == ["batch_0.json", "batch_1.json", "batch_2.json"]
    with open(os.path.join(landing, "batch_0.json")) as f:
        assert f.read() == '{"k": 1}\n{"k": 2}\n'


def test_drain_stops_and_raises_on_timeout(spark, tmp_path):
    landing = str(tmp_path / "landing")
    land_batches(landing, [[{"k": i}] for i in range(3)])
    q = start(json_stream(spark, landing, SCHEMA), str(tmp_path / "ckpt"), str(tmp_path / "out"))
    with pytest.raises(TimeoutError):
        drain(q, timeout_s=0.01)
    assert not q.isActive
    assert spark.streams.active == []


def test_drain_reraises_sink_failure(spark, tmp_path):
    landing = str(tmp_path / "landing")
    land_batches(landing, [[{"k": 1}]])

    def failing_sink(batch_df, batch_id):
        raise RuntimeError("sink failed")

    q = start(json_stream(spark, landing, SCHEMA), str(tmp_path / "ckpt"), failing_sink)
    with pytest.raises(Exception, match="sink failed"):
        drain(q, timeout_s=120)
    assert spark.streams.active == []


def test_drain_returns_after_parquet_sink_finishes(spark, tmp_path):
    landing = str(tmp_path / "landing")
    land_batches(landing, [[{"k": 1}, {"k": 2}], [{"k": 3}]])
    out = str(tmp_path / "out")
    drain(start(json_stream(spark, landing, SCHEMA), str(tmp_path / "ckpt"), out), timeout_s=120)
    assert sorted(r.k for r in spark.read.parquet(out).collect()) == [1, 2, 3]
