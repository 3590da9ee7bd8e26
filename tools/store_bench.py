"""Store-layer timed bench (r16, VERDICT r15 item 3): the merge/store
machinery got two rounds of heavy engineering but zero timed
round-over-round coverage after q163/q164 were (justifiably) dropped from
the EXT set — their trivial DuckDB oracles made the ratio measure store
I/O against ~zero. This lane times the machinery AGAINST ITSELF across
rounds instead: absolute seconds per operation at 1x and 10x volume,
min-of-2 warm runs, one JSON line, committed as STORE_BENCH_r{N}.json and
compared round-over-round in ROADMAP like BENCH_LOCAL.

Operations timed (documents table at sf0.1 = 5k docs; 10x = 50k):
- merge_fresh             merge_upsert_partitioned into a fresh target
                          (parts manifest + CAS commit log)
- merge_upsert            second batch touching 1/5 of the keys
- read_partitioned        full read-back of the partitioned table
                          through read_table
- parts_fold_x4           4 incremental store_commit_parts folds
- parts_read              read_table union-read of the accumulated parts
- store_compact           squash the 4-fold store to one part per table
- reindex_minhash         band-width rebuild from stored shingles
- reindex_contamination   k-width rebuild from stored texts

Usage: PYTHONPATH=. python tools/store_bench.py [factor] [out.json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from scraper_db_refine_merge_spark.operators import dedup as dd  # noqa: E402
from scraper_db_refine_merge_spark.operators.merge import merge_upsert_partitioned  # noqa: E402
from scraper_db_refine_merge_spark.session import get_spark  # noqa: E402
from scraper_db_refine_merge_spark.sources.tables import load_table  # noqa: E402
from scraper_db_refine_merge_spark.streaming import store as st  # noqa: E402

BASE = "/root/testdata/sf0.1"


def _docs_at(spark, factor: int):
    df = load_table(spark, BASE, "documents").select(
        "doc_id", "source", "n_chars", "text"
    )
    if factor == 1:
        return df
    n = df.count()
    parts = [
        df.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10 * n))
        for i in range(factor)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(32).localCheckpoint()


def _min2(fn) -> float:
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def _once(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def run_factor(spark, factor: int) -> dict[str, float]:
    docs = _docs_at(spark, factor)
    docs.count()  # warm
    batch2 = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "n_chars", F.col("n_chars") + 1000
    )
    out: dict[str, float] = {}
    scratch = tempfile.mkdtemp(prefix=f"store_bench_x{factor}_")

    # ---- partitioned merge. Fresh-create and upsert are timed ONCE (a
    # merge mutates its target, so min-of-2 would measure a different
    # table state on run 2); the read-back is repeatable and gets min-of-2.
    tgt = os.path.join(scratch, "pm")
    out["merge_fresh"] = _once(
        lambda: merge_upsert_partitioned(
            spark, tgt, docs, key_cols=["doc_id"], partition_col="source"
        )
    )
    out["merge_upsert"] = _once(
        lambda: merge_upsert_partitioned(
            spark, tgt, batch2, key_cols=["doc_id"], partition_col="source"
        )
    )
    out["read_partitioned"] = _min2(lambda: st.read_table(spark, tgt).count())

    # ---- incremental parts store: 4 folds, read, compact (timed once —
    # compaction mutates; the store is rebuilt per timing elsewhere only
    # at 1x cost, so a single timing is the honest one)
    ps = os.path.join(scratch, "parts")
    quarters = [docs.filter(F.col("doc_id") % 4 == i) for i in range(4)]

    def _fold4():
        for i, q in enumerate(quarters):
            st.store_commit_parts(
                {"t": q.select("doc_id", "n_chars")}, ps,
                markers={"_b": str(i)},
            )

    out["parts_fold_x4"] = _once(_fold4)
    out["parts_read"] = _min2(
        lambda: st.read_table(spark, ps, "t").count()
    )
    out["store_compact"] = _once(lambda: st.store_compact(spark, ps))

    # ---- index rebuilds (the replace_parts rewrite path)
    mh = os.path.join(scratch, "mh")
    halves = [docs.filter(F.col("doc_id") % 2 == i) for i in range(2)]
    for h in halves:
        dd.fold_minhash_index(
            spark, mh, h, "doc_id", "text", threshold=0.4, band_size=3
        )
    out["reindex_minhash"] = _once(
        lambda: dd.reindex_minhash_width(spark, mh, band_size=4)
    )

    ct = os.path.join(scratch, "contam")
    for h in halves:
        dd.fold_contamination_index(spark, ct, h, k=4)
    out["reindex_contamination"] = _once(
        lambda: dd.reindex_contamination_k(spark, ct, 6)
    )

    shutil.rmtree(scratch, ignore_errors=True)
    return {k: round(v, 4) for k, v in out.items()}


def main() -> int:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    spark = get_spark("store_bench")
    spark.range(1).count()
    # Warm-up: one tiny pass over every op class so the timed 1x block
    # measures the machinery, not first-touch costs (codegen JIT, parquet
    # committer init, Python-worker forks) — the bench.py discipline.
    warm = tempfile.mkdtemp(prefix="store_bench_warm_")
    wdocs = load_table(spark, BASE, "documents").select(
        "doc_id", "source", "n_chars", "text"
    ).filter(F.col("doc_id") % 11 == 0)
    merge_upsert_partitioned(
        spark, os.path.join(warm, "pm"), wdocs, key_cols=["doc_id"], partition_col="source"
    )
    st.store_commit_parts({"t": wdocs.select("doc_id")}, os.path.join(warm, "p"))
    dd.fold_minhash_index(
        spark, os.path.join(warm, "mh"), wdocs, "doc_id", "text",
        threshold=0.4, band_size=3,
    )
    dd.fold_contamination_index(spark, os.path.join(warm, "ct"), wdocs, k=4)
    shutil.rmtree(warm, ignore_errors=True)
    result = {
        "metric": "store_bench_sec",
        "sf": 0.1,
        "factors": {},
    }
    for f in (1, factor):
        result["factors"][str(f)] = run_factor(spark, f)
    line = json.dumps(result)
    print(line)
    if out_path:
        with open(out_path, "w") as fh:
            fh.write(line + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
