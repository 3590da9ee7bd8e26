"""The benchmark's own tests, at tiny scale.

Run from the repository root:  python3 -m pytest perfbench/test_perfbench.py

The last two tests start the benchmark as a subprocess (one JVM each, about
a minute apiece) and check that a traced run emits every per-layer metric.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from datagen import IngestFeed, catalog_tables, write_catalog_tables  # noqa: E402
from measure import (  # noqa: E402
    Span,
    Tracer,
    covered,
    cpu_seconds,
    geomean,
    peak_rss_mb,
    percentile,
    reset_peak_rss,
    self_times,
    state_totals,
    tail_percentile,
)
from workloads import compare, ingest_problems  # noqa: E402

import run as bench_run  # noqa: E402


# ---- generators ------------------------------------------------------------


def _parse(feed: IngestFeed):
    """Replay the landed files the way the pipeline must: the latest file
    wins per key; returns (latest price per key, per-file counters)."""
    latest, stats = {}, []
    for path in feed.files:
        rows = [json.loads(line) for line in open(path)]
        keys = {int(r["title"].split(" ")[1]) for r in rows}
        updated = sum(1 for k in keys if k in latest)
        for r in rows:
            latest[int(r["title"].split(" ")[1])] = int(r["price_text"][1:])
        stats.append(
            {
                "incoming": len(rows),
                "within_batch_duplicates": len(rows) - len(keys),
                "updated": updated,
                "inserted": len(keys) - updated,
                "target_rows_after": len(latest),
            }
        )
    return latest, stats


def test_ingest_feed_ground_truth(tmp_path):
    feed = IngestFeed(seed=5, rows_per_file=200)
    for _ in range(4):
        feed.land(str(tmp_path))
    latest, stats = _parse(feed)
    assert feed.latest_price == latest
    assert feed.expected_stats == stats
    assert feed.raw_rows == 4 * 200
    # every later file re-scrapes earlier keys with a changed price
    for i in range(1, 4):
        assert stats[i]["updated"] == len(feed.rescraped[i]) > 0
        assert stats[i]["within_batch_duplicates"] > 0
    mtimes = [os.stat(p).st_mtime for p in feed.files]
    assert mtimes == sorted(mtimes)


def test_generators_are_seeded(tmp_path):
    a, b, c = (IngestFeed(seed=s, rows_per_file=50) for s in (1, 1, 2))
    for feed, d in ((a, "a"), (b, "b"), (c, "c")):
        feed.land(str(tmp_path / d))
    read = lambda f: open(f.files[0], "rb").read()  # noqa: E731
    assert read(a) == read(b) != read(c)

    t1, t2 = catalog_tables(3, 0.001), catalog_tables(3, 0.001)
    assert all(t1[k].equals(t2[k]) for k in t1)
    assert not t1["lineitem"].equals(catalog_tables(4, 0.001)["lineitem"])
    counts = write_catalog_tables(str(tmp_path / "t"), 3, 0.001)
    assert counts["lineitem"] == 6000 and counts["documents"] == 500
    assert str(t1["events"].schema.field("ts").type) == "timestamp[us]"
    assert str(t1["nation"].schema.field("n_nationkey").type) == "int32"


# ---- arithmetic --------------------------------------------------------------


def test_percentiles():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 0) == 1.0 and percentile(xs, 100) == 5.0
    assert percentile(xs, 90) == pytest.approx(4.6)
    assert percentile([7.0], 99) == 7.0
    assert geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    # the highest percentile with at least ten samples beyond it
    assert tail_percentile(1000) == 99
    assert tail_percentile(200) == 95
    assert tail_percentile(100) == 90
    assert tail_percentile(40) == 75
    assert tail_percentile(21) is None


def test_self_time():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 3 + 1
    assert covered([(0, 2), (1, 3)], 1.5, 2.5) == 1.0
    spans = [
        Span(0, "query", "q", None, 0.0, 10.0),
        Span(1, "plans.build", "q", 0, 1.0, 3.0),
        Span(2, "exec.action", "q", 0, 3.0, 9.0),
        Span(3, "exec.inner", "q", 2, 4.0, 5.0),
    ]
    st = self_times(spans)
    assert st == {0: 2.0, 1: 2.0, 2: 5.0, 3: 1.0}

    tr = Tracer(True)
    with tr.span("query", op="q1") as outer:
        with tr.span("plans.build") as inner:
            pass
    assert inner.parent == outer.sid and inner.op == "q1"
    batch = tr.add_span("batch", "q1", outer.start - 1, outer.end + 1)
    assert outer.parent == batch.sid
    assert {r["name"] for r in tr.tree()} == {"query", "plans.build", "batch"}
    off = Tracer(False)
    with off.span("x") as s:
        assert s is None
    assert off.spans == []


def test_state_totals():
    op = lambda rows, mem, ms, late: {  # noqa: E731
        "numRowsTotal": rows, "memoryUsedBytes": mem, "commitTimeMs": ms,
        "numRowsDroppedByWatermark": late,
    }
    progress = [
        {"stateOperators": [op(10, 1000, 5, 0)]},
        {"stateOperators": [op(30, 3000, 7, 4)]},
        {"stateOperators": [op(20, 2000, 3, 0)]},
    ]
    assert state_totals(progress) == {
        "state.rows_total": 30, "state.memory_bytes": 3000, "state.commit_s": 0.015,
        "state.rows_dropped_by_watermark": 4, "state.batches": 3,
    }
    assert state_totals([{"stateOperators": []}, {}]) is None


def test_peak_rss_resets():
    block = bytearray(256 * 2**20)
    block[:: 4096] = b"x" * len(block[:: 4096])  # touch every page
    high = peak_rss_mb(None)
    del block
    reset_peak_rss(None)
    assert peak_rss_mb(None) < high - 200


def test_cpu_seconds_counts_live_children():
    spin = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\n"
    c0 = cpu_seconds()
    child = subprocess.Popen([sys.executable, "-c", spin + "time.sleep(30)"])
    try:
        time.sleep(1.5)  # spinning done, still running, like the JVM
        assert cpu_seconds() - c0 >= 0.45
    finally:
        child.kill()
        child.wait()


# ---- wrong results count as failures ------------------------------------------


def test_compare_flags_wrong_results():
    good = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.0]})
    assert compare(good, good[::-1].reset_index(drop=True)) is None
    assert "values differ" in compare(good, pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]}))
    assert "rows" in compare(good, good.head(1))
    assert "schema" in compare(good, good.rename(columns={"v": "w"}))


def test_ingest_problems_flag_wrong_results(tmp_path):
    feed = IngestFeed(seed=9, rows_per_file=100)
    for _ in range(3):
        feed.land(str(tmp_path))
    key = feed.rescraped[-1][0]
    table = [
        {"title": IngestFeed.row(k, 0, 0)["title"], "price": float(p)}
        for k, p in feed.latest_price.items()
    ]
    stats = [dict(s) for s in feed.expected_stats]
    right = float(feed.latest_price[key])
    assert ingest_problems(feed, 3, table, stats, key, right) == []

    stale = [dict(r) for r in table]
    stale[0]["price"] += 1
    assert len(ingest_problems(feed, 3, stale, stats, key, right)) == 1
    lost = stats[:1] + [dict(stats[1], updated=0)] + stats[2:]
    assert len(ingest_problems(feed, 3, table, lost, key, right)) == 1
    assert len(ingest_problems(feed, 3, table, stats, key, right - 1)) == 1
    assert len(ingest_problems(feed, 2, table[1:], stats, key, right)) == 3


def test_failures_raise_fail_ratio():
    from workloads import Run

    r = Run("x", 1, 1, False, "/nonexistent", 0.0, 0.001)
    r.attempted = 8
    r.fail("q01: values differ")
    r.fail("q04: TypeError")
    assert (r.failed, r.failed / r.attempted) == (2, 0.25)
    assert r.errors == ["q01: values differ", "q04: TypeError"]


# ---- a traced run emits every per-layer metric --------------------------------

EXERCISED = {
    "catalog_read": [
        "session.get_spark_s", "sources.load_table_s", "sources.scan_bytes",
        "sources.scan_max_tasks", "plans.build_s", "exec.action_s", "exec.jobs",
        "exec.stages", "exec.tasks", "exec.executor_run_s", "exec.busy_share",
        "exec.stage_skew", "trace.overhead_share",
    ],
    "ingest_upsert": [
        "session.get_spark_s", "refine.build_s", "refine.calls", "merge.commit_s",
        "merge.jobs", "merge.write_amp", "merge.space_amp", "merge.live_files",
        "stream.trigger_s", "stream.add_batch_s", "stream.start_s", "exec.jobs",
        "trace.overhead_share", "state.rows_total", "state.memory_bytes", "state.commit_s",
        "state.rows_dropped_by_watermark", "state.batches",
    ],
}


@pytest.mark.parametrize("workload", sorted(EXERCISED))
def test_traced_run_emits_every_layer_metric(workload, tmp_path):
    out = tmp_path / "report.json"
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", "1", "--sf", "0.001", "--out", str(out)],
        capture_output=True, text=True, timeout=600, cwd=os.path.dirname(HERE),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0, proc.stdout[-2000:]
    metrics = last["metrics"]
    assert set(metrics) == set(bench_run.LAYER_UNITS)
    for name in EXERCISED[workload]:
        assert metrics[name]["value"] > 0, name
    if workload == "catalog_read":
        assert metrics["cache.persisted_after"]["value"] == 0
        assert metrics["refine.calls"]["value"] == 0
        assert all(v["value"] == 0 for k, v in metrics.items() if k.startswith("state."))
    report = json.loads(out.read_text())
    assert report["spans"] and all("self_s" in s for s in report["spans"])
    assert report["env"]["nproc"] == len(os.sched_getaffinity(0))
