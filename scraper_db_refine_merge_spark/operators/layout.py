"""Storage layout management: compaction and clustered (data-skipping) writes.

Beyond-reference operators. At 100 TB the dominant failure mode of a
continuously-merged table is not query plans but layout: thousands of
KB-sized files per partition (every micro-batch MERGE writes some), and
row groups whose min/max stats span the whole key domain so no scan ever
skips anything. These operators are the maintenance pass a production
table needs between query workloads:

- ``table_file_stats``: metadata-only inventory (driver-side listing — file
  *names and sizes*, never data) used to decide when to compact.
- ``compact``: rewrite a parquet table into ~``target_file_bytes`` files.
  Sizing comes from the actual on-disk byte count, not a row-count guess,
  so compression ratio is respected. Atomic swap (operators/merge.py
  swap_plain_table), crash-safe: readers see old or new.
- ``write_clustered``: range-repartition + sort-within-partitions on the
  cluster keys before writing. Each output file then covers a narrow,
  non-overlapping key range, so parquet footer min/max lets any engine
  skip files/row-groups on cluster-key predicates — the poor man's
  Z-order, and for single-key or prefix-ordered predicates it strictly
  beats interleaved orders.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession

from .merge import recover_plain_table, swap_plain_table


def table_file_stats(path: str) -> dict:
    """File-count/size inventory of a parquet table directory (recursive,
    metadata only). Keys: n_files, total_bytes, min/max/avg file bytes."""
    sizes = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                sizes.append(os.path.getsize(os.path.join(root, f)))
    if not sizes:
        return {"n_files": 0, "total_bytes": 0, "min_bytes": 0, "max_bytes": 0, "avg_bytes": 0}
    return {
        "n_files": len(sizes),
        "total_bytes": sum(sizes),
        "min_bytes": min(sizes),
        "max_bytes": max(sizes),
        "avg_bytes": sum(sizes) // len(sizes),
    }


def compact(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 128 << 20,
    min_files_to_compact: int = 2,
) -> dict:
    """Rewrite ``table_path`` (parquet) into ceil(total/target) files of
    roughly ``target_file_bytes`` each. No-op (returns stats unchanged)
    when the table already has fewer than ``min_files_to_compact`` files.

    Returns {"before": stats, "after": stats, "compacted": bool}.

    Uses ``coalesce`` (narrow, no shuffle) — compaction must not pay a
    shuffle just to concatenate files; row order within files is
    whatever the scan yields, which is fine because compaction promises
    bytes-identical multiset of rows, not an ordering. For ordered output
    use ``write_clustered`` instead.
    """
    recover_plain_table(table_path)
    before = table_file_stats(table_path)
    if before["n_files"] < min_files_to_compact:
        return {"before": before, "after": before, "compacted": False}
    n_out = max(1, math.ceil(before["total_bytes"] / target_file_bytes))
    df = spark.read.parquet(table_path)
    swap_plain_table(table_path, df.coalesce(n_out))
    return {"before": before, "after": table_file_stats(table_path), "compacted": True}


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    num_files: int,
) -> None:
    """Write ``df`` as parquet clustered on ``cluster_cols``: range
    partition into ``num_files`` partitions and sort rows within each.
    Output files cover narrow, non-overlapping cluster-key ranges (range
    partitioning guarantees disjointness across files; the in-file sort
    tightens per-row-group min/max), so predicates on the cluster keys
    skip whole files via footer stats.

    Range partitioning samples the key distribution, so skew in the
    cluster key produces balanced files anyway — the property a naive
    ``repartition(hash)`` + sort does not have.
    """
    (
        df.repartitionByRange(num_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_value(df: DataFrame, cols: list[str], bits: int = 16):
    """Z-order (Morton) key expression over numeric columns: each column is
    bucketized to ``bits`` bits with ``width_bucket`` over its min/max
    (one tiny stats aggregate), and the bucket bits are interleaved with
    native shift/or expressions — no UDF.

    Range-clustering on the z-value gives every output file a NARROW range
    in EVERY clustered dimension simultaneously (locality), where sorting
    by (a, b) gives file-level skipping on ``a`` only — the trailing key's
    per-file span stays global. Use for tables queried by 2-3 independent
    selective predicates. Equal-width bucketing is the documented
    trade-off: a heavily skewed dimension wastes bucket resolution (swap
    in quantile breakpoints from approxQuantile if that matters).
    """
    from pyspark.sql import functions as F

    if not 1 <= len(cols) <= 3:
        raise ValueError("zorder_value supports 1-3 columns")
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    n = 1 << bits
    bucketed = []
    for c in cols:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        if mn is None or mx is None or mx <= mn:
            bucketed.append(F.lit(0).cast("long"))
            continue
        wb = F.width_bucket(F.col(c).cast("double"), F.lit(mn), F.lit(mx), F.lit(n - 1))
        # width_bucket yields 0..n on/beyond the bounds; clamp into 0..n-1
        bucketed.append(F.greatest(F.least(wb - 1, F.lit(n - 1)), F.lit(0)).cast("long"))
    k = len(cols)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, b in enumerate(bucketed):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * k + j))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    num_files: int,
    bits: int = 16,
) -> None:
    """Write parquet range-clustered on the Z-order key of ``cluster_cols``:
    every file covers a narrow range of EACH dimension, so footer min/max
    skips files for predicates on any clustered column (and best for
    conjunctions). One stats aggregate + one range shuffle."""
    z = zorder_value(df, cluster_cols, bits).alias("__z")
    (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
