"""Streaming ingest throughput: landing-dir JSON → refine → foreachBatch
keyed MERGE, measured end-to-end (ST1).

Generates N files × M raw rows (deterministic content, ~10% cross-file
duplicate event keys so MERGE exercises both update and insert paths),
runs the real ``stream_ingest`` with availableNow + maxFilesPerTrigger,
and reports rows/sec plus the MERGE outcome counters.

Usage: PYTHONPATH=. python tools/stream_bench.py [n_files] [rows_per_file]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scraper_db_refine_merge_spark.session import get_spark  # noqa: E402
from scraper_db_refine_merge_spark.streaming.pipeline import stream_ingest  # noqa: E402
from scraper_db_refine_merge_spark.streaming.runner import drain, land_batches  # noqa: E402

SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "stream_bench"
)


def gen_files(landing: str, n_files: int, rows: int) -> int:
    batches = []
    for f in range(n_files):
        keys = [f * rows + i for i in range(rows)]
        if f > 0:  # plus ~10% re-scrapes of the PREVIOUS file's events
            keys += [(f - 1) * rows + i for i in range(0, rows, 10)]
        batches.append([
            {
                "title": f"Event {key} Night",
                "url": f"www.example.com/events/{key}",
                "venue": ["amnesia", "hi ibiza", "dc-10", "pacha"][key % 4],
                # temporal locality: dates follow the key's HOME file
                # (re-scrapes keep their original date → same event_id)
                "date_text": f"{((key // rows) * 4 + key % 4) % 28 + 1} May 2025",
                "lineup": [{"name": f"Artist {key % 97}", "role": "headliner"}],
                "price_text": f"from €{10 + key % 80}",
                "genres": ["techno" if key % 2 else "tech house"],
                "description": f"Description {key}",
                "scraped_at": f"2025-05-01T{f % 24:02d}:00:00Z",
            }
            for key in keys
        ])
    land_batches(landing, batches)
    return sum(map(len, batches))


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    rows = int(sys.argv[2]) if len(sys.argv) > 2 else 2000
    shutil.rmtree(SCRATCH, ignore_errors=True)
    landing = os.path.join(SCRATCH, "landing")
    target = os.path.join(SCRATCH, "events")
    ckpt = os.path.join(SCRATCH, "ckpt")
    metrics = os.path.join(SCRATCH, "metrics")

    total = gen_files(landing, n_files, rows)
    spark = get_spark("stream-bench")
    spark.range(1).count()

    # whole-table MERGE path (rich stats)
    t0 = time.perf_counter()
    q = stream_ingest(
        spark, landing, target, ckpt, metrics_path=metrics, max_files_per_trigger=2
    )
    drain(q)
    dt = time.perf_counter() - t0
    final_rows = spark.read.parquet(target).count()
    m = spark.read.parquet(metrics)
    agg = m.groupBy().sum("incoming", "updated", "inserted").first()
    print(
        json.dumps(
            {
                "metric": "stream_ingest_rows_per_sec",
                "value": round(total / dt, 1),
                "unit": "rows/sec",
                "mode": "whole_table_merge",
                "total_rows": total,
                "wall_sec": round(dt, 2),
                "micro_batches": m.count(),
                "merged_updates": agg[1],
                "merged_inserts": agg[2],
                "final_table_rows": final_rows,
            }
        )
    )

    # partition-pruned MERGE path (production shape)
    t0 = time.perf_counter()
    q = stream_ingest(
        spark,
        landing,
        target + "_part",
        ckpt + "_part",
        metrics_path=metrics + "_part",
        max_files_per_trigger=2,
        partition_by_event_date=True,
    )
    drain(q)
    dt = time.perf_counter() - t0
    from scraper_db_refine_merge_spark.streaming.store import read_table

    final_rows = read_table(spark, target + "_part").count()
    mp = spark.read.parquet(metrics + "_part")
    parts = mp.groupBy().sum("partitions_rewritten").first()[0]
    print(
        json.dumps(
            {
                "metric": "stream_ingest_rows_per_sec",
                "value": round(total / dt, 1),
                "unit": "rows/sec",
                "mode": "partition_pruned_merge",
                "total_rows": total,
                "wall_sec": round(dt, 2),
                "micro_batches": mp.count(),
                "partitions_rewritten_total": parts,
                "final_table_rows": final_rows,
            }
        )
    )
    shutil.rmtree(SCRATCH, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
