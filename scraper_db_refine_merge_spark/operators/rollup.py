"""Incremental aggregate maintenance (rollup tables).

Beyond-reference operator. The reference recomputes its report aggregates
from the full collection each run (fine at 10^3 docs); at 100 TB a daily
report must fold ONLY the day's batch into a stored aggregate table —
cost proportional to the batch, never the history.

The stored rollup keeps MERGEABLE partial aggregates only: count, sum,
min, max (avg/rates are derived at read time as sum/count — storing avg
would make the rollup non-mergeable). Folding a batch is: partially
aggregate the batch, union with the stored partials, re-aggregate. That
re-aggregation is exactly Spark's own partial-agg combine semantics, so
``fold_rollup`` over any batch decomposition equals the from-scratch
aggregate over the union — the invariant the q63 gate hash-verifies
cross-engine.

The count column is ``n``. Sums accumulate in DECIMAL(28,6) so the merged
result is independent of batch order and split (IEEE double addition is
not associative; decimal is).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .merge import recover_plain_table, swap_plain_table

__all__ = ["rollup_aggregate", "fold_rollup"]


def _agg_exprs(sum_cols: list[str], min_cols: list[str], max_cols: list[str]):
    exprs = [F.sum(F.col("n")).alias("n")]
    exprs += [F.sum(F.col(c)).alias(c) for c in sum_cols]
    exprs += [F.min(F.col(c)).alias(c) for c in min_cols]
    exprs += [F.max(F.col(c)).alias(c) for c in max_cols]
    return exprs


def rollup_aggregate(
    df: DataFrame,
    key_cols: list[str],
    sum_cols: list[str] | None = None,
    min_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
) -> DataFrame:
    """Partially aggregate raw rows into the rollup's mergeable shape:
    one row per key with count / decimal sums / mins / maxs."""
    sum_cols, min_cols, max_cols = sum_cols or [], min_cols or [], max_cols or []
    pre = df.select(
        *key_cols,
        F.lit(1).cast("long").alias("n"),
        *[F.col(c).cast("decimal(28,6)").alias(c) for c in sum_cols],
        *[F.col(c).alias(c) for c in min_cols],
        *[F.col(c).alias(c) for c in max_cols],
    )
    return pre.groupBy(*key_cols).agg(*_agg_exprs(sum_cols, min_cols, max_cols))


def fold_rollup(
    spark: SparkSession,
    target_path: str,
    batch_df: DataFrame,
    key_cols: list[str],
    sum_cols: list[str] | None = None,
    min_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
) -> DataFrame:
    """Fold a raw batch into the stored rollup at ``target_path``: batch →
    partial aggregate → union with stored partials → re-aggregate →
    atomic swap. Returns the new rollup DataFrame (already written).

    Cost: one shuffle over (batch keys ∪ stored keys) — the stored rollup
    has one row per key, so folding scales with key cardinality and batch
    size, never with the raw history. Crash-safe: readers see the old or
    the new table (operators/merge.py swap_plain_table).
    """
    sum_cols, min_cols, max_cols = sum_cols or [], min_cols or [], max_cols or []
    batch_agg = rollup_aggregate(batch_df, key_cols, sum_cols, min_cols, max_cols)
    if recover_plain_table(target_path):
        existing = spark.read.parquet(target_path)
        merged = (
            existing.unionByName(batch_agg)
            .groupBy(*key_cols)
            .agg(*_agg_exprs(sum_cols, min_cols, max_cols))
        )
    else:
        merged = batch_agg

    swap_plain_table(target_path, merged)
    return spark.read.parquet(target_path)
