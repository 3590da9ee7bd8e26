"""Streaming sketches: continuously-maintained mergeable sketch state.

Extends ST1/ST5 (streaming/pipeline.py) with the sketch family
(operators/sketches.py). Every sink here is one body,
``guarded_merge_sink(build, merge)``: each micro-batch builds the sketch
state for its rows and merges it into the persistent state table. The
five sinks differ only in their merge algebra — HLL registers by MAX,
KMV hash sets by union + re-top-k, count-min cells, histogram bins and
q-digest nodes by SUM.

Exactly-once comes from the batch-id guard: the applied batch id is a
marker committed atomically with the state, so a micro-batch replayed
after a restart (at-least-once delivery) finds its id applied and is a
no-op. SUM merges need it — a replay would double-count. MAX and
union + re-top-k are idempotent, so for them the guard only skips work
a replay would redo with the same result (both tested).

State size is O(groups × sketch size) regardless of stream volume — the
state table is re-written per batch through the crash-safe versioned store
(streaming/store.py: one immutable part behind one put-if-absent
commit-log entry; no rename, so object stores work too), which at 100 TB
is a metadata-sized write, not a data rewrite.

Each ``stream_*`` reads one landing file per micro-batch and returns the
started StreamingQuery (streaming/runner.py: ``availableNow`` — drains
what is there); callers wait on it with ``runner.drain``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import KMV_K, cms_registers, hll_registers
from .runner import json_stream, start
from .store import read_table, store_commit, store_marker

_APPLIED = "_applied_batch_id"


def guarded_merge_sink(spark, target_path, build, merge):
    """The foreachBatch body of every sketch sink: skip batches
    at-or-below the applied marker, build this batch's state, merge it
    into the stored state, and commit the new marker atomically with it —
    the marker is written INSIDE the snapshot before the store's single
    pointer commit, so "state updated" and "batch recorded as applied" are
    one atomic event. Required for non-idempotent merges (SUM-merged
    sketches, append-union sinks); harmless for idempotent ones."""

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


def stream_guarded_merge(spark, landing_dir, target_path, checkpoint_dir, schema, build, merge):
    """Start a JSON landing stream whose sink is ``guarded_merge_sink``."""
    return start(
        json_stream(spark, landing_dir, schema),
        checkpoint_dir,
        guarded_merge_sink(spark, target_path, build, merge),
    )


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
):
    """Maintain an HLL register table over a JSON landing stream. Register
    merge is element-wise MAX — idempotent and commutative, so a replayed
    batch could not change the registers even without the guard."""
    return stream_guarded_merge(
        spark, landing_dir, target_path, checkpoint_dir, schema,
        lambda batch_df: hll_registers(batch_df, group_cols, value_col),
        lambda prev, cur: merge_register_tables(prev, cur, group_cols),
    )


def merge_cms_tables(a: DataFrame, b: DataFrame, group_cols: list[str]) -> DataFrame:
    """Element-wise SUM merge of two count-min register tables."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def stream_cms_registers(
    spark: SparkSession,
    landing_dir: str,
    target_path: str,
    checkpoint_dir: str,
    group_cols: list[str],
    key_col: str,
    schema: str,
):
    """Maintain a count-min register table over a JSON landing stream.

    The deliberate contrast with ``stream_hll_registers``: CMS merge is
    element-wise SUM, which is commutative but NOT idempotent — replaying a
    micro-batch would double-count, so exactly-once rests on the batch-id
    guard (a replayed batch sees its own id in the marker and becomes a
    no-op; tested in tests/test_sketch_stream.py). State stays O(groups·d·w)
    regardless of stream volume, same as the HLL sink.
    """
    return stream_guarded_merge(
        spark, landing_dir, target_path, checkpoint_dir, schema,
        lambda batch_df: cms_registers(batch_df, group_cols, key_col),
        lambda prev, cur: merge_cms_tables(prev, cur, group_cols),
    )


def merge_kmv_tables(a: DataFrame, b: DataFrame, group_cols: list[str], k: int) -> DataFrame:
    """KMV state merge: union the per-group hash sets, dedup, re-take the k
    smallest. Like HLL's MAX (and unlike CMS's SUM) this is idempotent —
    re-merging a batch cannot change the k smallest distinct hashes."""
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
):
    """Maintain per-group KMV state (the KMV_K smallest md5 hashes) over a
    JSON landing stream. State is O(groups·k); the estimate derives from
    the k-th smallest exactly as the batch kmv_sketch does."""
    from ..operators.sketches import _md5

    def _build(batch_df: DataFrame) -> DataFrame:
        hashes = batch_df.select(*group_cols, _md5(F.col(value_col)).alias("h")).distinct()
        # cut the batch to k: merging into an empty state keeps only top-k
        return merge_kmv_tables(hashes.limit(0), hashes, group_cols, KMV_K)

    return stream_guarded_merge(
        spark, landing_dir, target_path, checkpoint_dir, schema,
        _build,
        lambda prev, cur: merge_kmv_tables(prev, cur, group_cols, KMV_K),
    )


def stream_histogram_sketch(
    spark: SparkSession,
    landing_dir: str,
    target_path: str,
    checkpoint_dir: str,
    group_cols: list[str],
    value_col: str,
    schema: str,
    width: float,
):
    """Maintain a fixed-width histogram sketch (the mergeable quantile
    state, operators/sketches.py histogram_sketch) over a JSON landing
    stream. Bin counts merge by SUM — not idempotent, so the guard is what
    keeps replays exact, as for the CMS sink. Quantiles come from
    histogram_quantiles over the maintained table at read time."""
    from ..operators.sketches import histogram_sketch

    def _merge(prev: DataFrame, cur: DataFrame) -> DataFrame:
        return (
            prev.unionByName(cur)
            .groupBy(*group_cols, "bin")
            .agg(F.sum("n").alias("n"))
        )

    return stream_guarded_merge(
        spark, landing_dir, target_path, checkpoint_dir, schema,
        lambda batch_df: histogram_sketch(batch_df, group_cols, value_col, width=width),
        _merge,
    )


def stream_qdigest(
    spark: SparkSession,
    landing_dir: str,
    target_path: str,
    checkpoint_dir: str,
    group_cols: list[str],
    value_col: str,
    schema: str,
):
    """Maintain a q-digest quantile sketch (operators/sketches.py) over a
    JSON landing stream of pre-scaled integer values in [0, 2^QD_LEVELS).

    The fourth merge algebra in the streaming sketch family: per-node
    count SUM + deterministic recompression. SUM is not idempotent, so the
    guard keeps replays exact like the CMS and histogram sinks;
    recompression after every merge keeps state ~O(QD_K) per group forever.
    Unlike the fixed-width histogram sink (whose error is locked to the
    authored bin width), the maintained q-digest adapts its resolution to
    the accumulated distribution.
    """
    from ..operators.sketches import qdigest_merge, qdigest_sketch

    return stream_guarded_merge(
        spark, landing_dir, target_path, checkpoint_dir, schema,
        lambda batch_df: qdigest_sketch(batch_df, group_cols, value_col),
        lambda prev, cur: qdigest_merge(prev, cur, group_cols),
    )
