"""Incremental rollup maintenance: fold equals from-scratch, in any order.

q63 hash-verifies the 3-batch fold against the from-scratch SQL aggregate;
these pin the operator properties directly: batch-order invariance (decimal
sums), idempotent table swap, and cold-start (no existing table) behavior.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from scraper_db_refine_merge_spark.operators.rollup import fold_rollup, rollup_aggregate
from scraper_db_refine_merge_spark.sources.tables import load_table


def _final(spark, tmp_path, batches, name):
    target = str(tmp_path / name)
    out = None
    for b in batches:
        out = fold_rollup(
            spark, target, b, key_cols=["event_type"], sum_cols=["value"]
        )
    return {
        r["event_type"]: (r["n"], float(r["value"])) for r in out.collect()
    }


def test_fold_equals_scratch_any_order(spark, sf_dir, tmp_path):
    e = load_table(spark, sf_dir, "events")
    batches = [e.filter(F.col("event_id") % 3 == i) for i in range(3)]
    scratch = {
        r["event_type"]: (r["n"], float(r["value"]))
        for r in rollup_aggregate(e, ["event_type"], sum_cols=["value"]).collect()
    }
    assert _final(spark, tmp_path, batches, "fwd") == scratch
    assert _final(spark, tmp_path, list(reversed(batches)), "rev") == scratch


def test_cold_start_single_batch(spark, sf_dir, tmp_path):
    e = load_table(spark, sf_dir, "events")
    got = _final(spark, tmp_path, [e], "cold")
    scratch = {
        r["event_type"]: (r["n"], float(r["value"]))
        for r in rollup_aggregate(e, ["event_type"], sum_cols=["value"]).collect()
    }
    assert got == scratch


def test_rollup_row_per_key(spark, sf_dir, tmp_path):
    e = load_table(spark, sf_dir, "events")
    out = fold_rollup(
        spark, str(tmp_path / "r"), e, key_cols=["event_type", "user_id"], sum_cols=["value"]
    )
    # stored size = key cardinality, independent of raw row count
    assert out.count() == e.select("event_type", "user_id").distinct().count()
