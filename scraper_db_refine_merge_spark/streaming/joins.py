"""Stream-stream joins (SURVEY §2.11 extension): watermarked interval
join between two live streams.

The batch engine's interval join (operators/temporal.py) buckets time to
make the range an equi-join; the STREAMING version instead relies on
Spark's symmetric-hash stream-stream join with event-time bounds — each
side buffers only rows whose join window can still match under the
current watermark, so state is bounded by (rate × window + watermark),
independent of stream lifetime.

Inner-join semantics make watermark eviction safe by construction: a row
whose potential matches are already evicted is necessarily late beyond
the watermark, so it is dropped at input — eviction can never lose an
on-time match. The oracle-gated replay (q80) exercises exactly this: an
in-window-but-late row produces nothing, while an on-time cross-batch
match (left row buffered in batch N, right row arriving in N+1) does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Inner join of two streams on ``key`` where ``right_ts`` falls in
    [left_ts, left_ts + window]. Both sides MUST carry the watermark or
    state grows unboundedly."""
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {window}"))
    )
    return l.join(r, cond, "inner").select(
        F.col(f"l.{key}").alias(key),
        F.col(f"l.{left_ts}").alias(left_ts),
        F.col(f"r.{right_ts}").alias(right_ts),
    )


def stream_asof_enrich(
    spark,
    landing_dir: str,
    history: DataFrame,
    target_path: str,
    checkpoint_dir: str,
    schema: str,
):
    """Streaming SCD2 / as-of dimension enrichment in foreachBatch: each
    micro-batch of probe rows (keyed ``user_id``, event time ``pts``)
    joins the versioned ``history`` table (raw [vf, vt) interval bounds,
    NULL vt = current version) AS-OF the probe's event time — the
    streaming analog of upsert-with-history lookup (reference
    database/data_migration.py:133-139 generalized).
    Returns the started StreamingQuery (one landing file per micro-batch).

    Per micro-batch this is a batch equi-join on the key with the interval
    post-filter — Spark plans the static side as a batch relation inside
    every micro-batch (AQE broadcasts it while it is genuinely small; no
    forced hint, the history is user-cardinality-sized). Appending enriched
    rows is NOT idempotent, so the sink runs under the same batch-id guard
    as the sketch sinks (guarded_merge_sink: marker commits atomically with
    the snapshot), making replays no-ops — exactly-once end to end.
    """
    from .sketch_stream import stream_guarded_merge

    def _build(batch_df: DataFrame) -> DataFrame:
        t = F.col("pts")
        return (
            batch_df.join(history, "user_id")
            .filter((F.col("vf") <= t) & (F.col("vt").isNull() | (t < F.col("vt"))))
        )

    return stream_guarded_merge(
        spark, landing_dir, target_path, checkpoint_dir, schema,
        _build,
        lambda prev, cur: prev.unionByName(cur),
    )
