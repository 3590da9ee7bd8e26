"""Streaming HLL: a continuously-maintained distinct-count sketch.

Extends ST1/ST5 (streaming/pipeline.py) with the sketch family
(operators/sketches.py): each micro-batch builds registers for its rows
and MAX-merges them into the persistent register table. Because register
merge is idempotent AND commutative (element-wise MAX), the sink tolerates
at-least-once batch delivery with no transactional sink — replaying a
micro-batch cannot change the merged state (tested). This is the standard
trick that makes sketch maintenance trivially exactly-once-equivalent
where a count-based metrics sink (ST5) needs idempotent writes.

State size is O(groups × m) regardless of stream volume — the register
table is re-written per batch through the crash-safe versioned store
(streaming/store.py: one immutable part behind one put-if-absent
commit-log entry; no rename, so object stores work too), which at 100 TB
is a metadata-sized write, not a data rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import CMS_DEPTH, CMS_WIDTH, HLL_M, cms_registers, hll_registers
from .store import read_table, store_commit, store_marker


def merge_register_tables(a: DataFrame, b: DataFrame, group_cols: list[str]) -> DataFrame:
    """Element-wise MAX merge of two HLL register tables."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )


def stream_hll_registers(
    spark: SparkSession,
    landing_dir: str,
    target_path: str,
    checkpoint_dir: str,
    group_cols: list[str],
    value_col: str,
    schema: str,
    m: int = HLL_M,
    max_files_per_trigger: int = 1,
):
    """Maintain an HLL register table over a JSON landing stream. Returns
    the StreamingQuery (availableNow trigger — drains what's there)."""
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(landing_dir)
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        regs = hll_registers(batch_df, group_cols, value_col, m=m)
        prev = read_table(spark, target_path)
        if prev is not None:
            regs = merge_register_tables(prev, regs, group_cols)
        store_commit(regs, target_path)

    return (
        raw.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def merge_cms_tables(a: DataFrame, b: DataFrame, group_cols: list[str]) -> DataFrame:
    """Element-wise SUM merge of two count-min register tables."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


_APPLIED = "_applied_batch_id"


def stream_cms_registers(
    spark: SparkSession,
    landing_dir: str,
    target_path: str,
    checkpoint_dir: str,
    group_cols: list[str],
    key_col: str,
    schema: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    max_files_per_trigger: int = 1,
):
    """Maintain a count-min register table over a JSON landing stream.

    The deliberate contrast with ``stream_hll_registers``: CMS merge is
    element-wise SUM, which is commutative but NOT idempotent — replaying a
    micro-batch would double-count. Exactly-once therefore needs the
    standard foreachBatch batch-id guard: the applied batch id is written
    INTO the staging directory before the atomic swap, so "registers
    updated" and "batch recorded as applied" commit together; on restart a
    replayed batch sees its own id in the marker and becomes a no-op
    (tested in tests/test_sketch_stream.py). State stays O(groups·d·w)
    regardless of stream volume, same as the HLL sink.
    """
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(landing_dir)
    )

    def _build(batch_df: DataFrame) -> DataFrame:
        return cms_registers(batch_df, group_cols, key_col, depth=depth, width=width)

    def _merge(prev: DataFrame, cur: DataFrame) -> DataFrame:
        return merge_cms_tables(prev, cur, group_cols)

    return (
        raw.writeStream.foreachBatch(guarded_merge_sink(spark, target_path, _build, _merge))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def merge_kmv_tables(a: DataFrame, b: DataFrame, group_cols: list[str], k: int) -> DataFrame:
    """KMV state merge: union the per-group hash sets, dedup, re-take the k
    smallest. Like HLL's MAX (and unlike CMS's SUM) this is idempotent —
    re-merging a batch cannot change the k smallest distinct hashes — so
    the sink is at-least-once safe with no batch-id guard."""
    from pyspark.sql import Window

    u = a.unionByName(b).distinct()
    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        u.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def stream_kmv_hashes(
    spark: SparkSession,
    landing_dir: str,
    target_path: str,
    checkpoint_dir: str,
    group_cols: list[str],
    value_col: str,
    schema: str,
    k: int = 32,
    max_files_per_trigger: int = 1,
):
    """Maintain per-group KMV state (the k smallest md5 hashes) over a JSON
    landing stream. State is O(groups·k); the estimate derives from the
    k-th smallest exactly as the batch kmv_sketch does."""
    from ..operators.sketches import _md5

    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(landing_dir)
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        hashes = batch_df.select(
            *group_cols, _md5(F.col(value_col)).alias("h")
        ).distinct()
        prev = read_table(spark, target_path)
        hashes = merge_kmv_tables(
            prev if prev is not None else hashes.limit(0), hashes, group_cols, k
        )
        store_commit(hashes, target_path)

    return (
        raw.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def guarded_merge_sink(spark, target_path, build, merge):
    """foreachBatch body for NON-idempotent merge algebras (SUM-merged
    sketches, append-union sinks):
    skip batches at-or-below the applied marker, merge, and commit the new
    marker atomically with the registers — the marker is written INSIDE the
    snapshot before the store's single pointer commit, so "registers
    updated" and "batch recorded as applied" are one atomic event. Shared
    by the CMS and histogram sinks."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        applied = store_marker(target_path, _APPLIED)
        if applied is not None and batch_id <= int(applied):
            return  # at-least-once replay of an applied batch
        regs = build(batch_df)
        prev = read_table(spark, target_path)
        if prev is not None:
            regs = merge(prev, regs)
        store_commit(regs, target_path, markers={_APPLIED: str(batch_id)})

    return _apply


def stream_histogram_sketch(
    spark: SparkSession,
    landing_dir: str,
    target_path: str,
    checkpoint_dir: str,
    group_cols: list[str],
    value_col: str,
    schema: str,
    width: float,
    max_files_per_trigger: int = 1,
):
    """Maintain a fixed-width histogram sketch (the mergeable quantile
    state, operators/sketches.py histogram_sketch) over a JSON landing
    stream. Bin counts merge by SUM — not idempotent, so it uses the same
    batch-id guard as the CMS sink. Quantiles come from histogram_quantiles
    over the maintained table at read time."""
    from ..operators.sketches import histogram_sketch

    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(landing_dir)
    )

    def _build(batch_df: DataFrame) -> DataFrame:
        return histogram_sketch(batch_df, group_cols, value_col, width=width)

    def _merge(prev: DataFrame, cur: DataFrame) -> DataFrame:
        return (
            prev.unionByName(cur)
            .groupBy(*group_cols, "bin")
            .agg(F.sum("n").alias("n"))
        )

    return (
        raw.writeStream.foreachBatch(guarded_merge_sink(spark, target_path, _build, _merge))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_qdigest(
    spark: SparkSession,
    landing_dir: str,
    target_path: str,
    checkpoint_dir: str,
    group_cols: list[str],
    value_col: str,
    schema: str,
    levels: int | None = None,
    k: int | None = None,
    max_files_per_trigger: int = 1,
):
    """Maintain a q-digest quantile sketch (operators/sketches.py) over a
    JSON landing stream of pre-scaled integer values in [0, 2^levels).

    The fourth merge algebra in the streaming sketch family: per-node
    count SUM + deterministic recompression. SUM is not idempotent, so the
    sink runs under the atomically-committed batch-id guard like the CMS
    and histogram sinks; recompression after every merge keeps state ~O(k)
    per group forever. Unlike the fixed-width histogram sink (whose error
    is locked to the authored bin width), the maintained q-digest adapts
    its resolution to the accumulated distribution.
    """
    from ..operators.sketches import QD_K, QD_LEVELS, qdigest_merge, qdigest_sketch

    lv = QD_LEVELS if levels is None else levels
    kk = QD_K if k is None else k
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(landing_dir)
    )

    def _build(batch_df: DataFrame) -> DataFrame:
        return qdigest_sketch(batch_df, group_cols, value_col, lv, kk)

    def _merge(prev: DataFrame, cur: DataFrame) -> DataFrame:
        return qdigest_merge(prev, cur, group_cols, lv, kk)

    return (
        raw.writeStream.foreachBatch(guarded_merge_sink(spark, target_path, _build, _merge))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
