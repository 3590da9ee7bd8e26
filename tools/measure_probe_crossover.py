"""Measure the probe_cells expression-vs-window crossover (ADVICE r13).

PROBE_EXPR_MAX_CELLS=256 bounds the pure-projection probe-selection path,
whose cost is O(k²) nested array filters per query row and which relies on
Catalyst subexpression elimination to compute the k cosines once. The
committed bench evidence only covers ~10-cell tables; this tool times BOTH
regimes at increasing cell counts (synthetic corpora with k distinct
labels, one probe query batch), warm, min-of-3, so the 256 bound is a
measured crossover instead of a guess.

Usage: PYTHONPATH=. python tools/measure_probe_crossover.py
Prints one JSON line per k; paste the summary into ROADMAP/PLANS notes.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DIM = 64
N_QUERIES = 200


def main() -> int:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from scraper_db_refine_merge_spark.operators import similarity as sim
    from scraper_db_refine_merge_spark.session import get_spark

    spark = get_spark("probe_crossover")
    spark.range(1).count()

    results = []
    for k in (8, 32, 64, 128, 192, 256, 384):
        # synthetic centroid table: k cells, deterministic components
        cent_rows = [
            (c, [((c * 131 + d * 17) % 199 - 99) / 99.0 for d in range(DIM)])
            for c in range(k)
        ]
        cent = spark.createDataFrame(cent_rows, "label int, centroid array<double>")
        q_rows = [
            (i, [((i * 37 + d * 13) % 211 - 105) / 105.0 for d in range(DIM)])
            for i in range(N_QUERIES)
        ]
        q = spark.createDataFrame(q_rows, "query_id int, __qvec array<double>")

        rows = sim._collect_centroids(cent, "label")

        def run_expr():
            sel = sim._probe_selected_col(cent, rows, "label", 2)
            out = q.select("query_id", F.explode(sel).alias("__pc"))
            return out.count()

        def run_window():
            cj = q.crossJoin(F.broadcast(cent)).withColumn(
                "__sim", F.round(sim.cosine(F.col("__qvec"), F.col("centroid")), 5)
            )
            pw = Window.partitionBy("query_id").orderBy(
                F.col("__sim").desc(), F.col("label").asc()
            )
            out = cj.withColumn("__rk", F.row_number().over(pw)).filter(
                F.col("__rk") <= 2
            )
            return out.count()

        timings = {}
        for name, fn in (("expr", run_expr), ("window", run_window)):
            fn()  # warm (plan build + codegen)
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                n = fn()
                best = min(best, time.perf_counter() - t0)
            timings[name] = round(best, 3)
            timings[f"{name}_rows"] = n
        rec = {"cells": k, **timings,
               "expr_over_window": round(timings["expr"] / max(timings["window"], 1e-9), 2)}
        results.append(rec)
        print(json.dumps(rec), flush=True)

    print(json.dumps({"summary": results}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
