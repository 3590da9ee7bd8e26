"""Incremental / streaming ingestion (SURVEY §2.11; SURVEY S15).

The reference is batch + incremental re-scrape with upsert semantics
(data_migration.py:133-139, unified_scraper.py:622-642). Structured
Streaming generalizes it:

- ST1: a file stream over a landing directory (streaming/runner.py) →
  refine (planned once per query, on the stream) → ``foreachBatch`` keyed
  MERGE (latest wins).
  foreachBatch is the correct sink because MERGE is not an append-only
  streaming sink; each micro-batch applies W3 dedup then the upsert.
- ST2: freshness predicate / TTL (ventura_crawler.py:260-287) as both a
  batch predicate and a watermark config.
- ST3: staleness detection (DF001/DF002) producing a refresh queue.
- ST5/S15: per-batch metrics rows appended to a metrics table
  (the append-mode metrics sink of ventura_crawler.py:289-300).

At scale the landing dir becomes cloud storage / Kafka; ``maxFilesPerTrigger``
bounds batch size so MERGE rewrites stay amortized.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import merge_upsert
from ..refine import refine
from .runner import json_stream, start

RAW_STREAM_SCHEMA = (
    "title string, url string, venue string, date_text string, "
    "lineup array<struct<name:string,role:string>>, price_text string, "
    "genres array<string>, description string, scraped_at string"
)


# SURVEY ST1/ST5
def stream_ingest(
    spark: SparkSession,
    landing_dir: str,
    target_path: str,
    checkpoint_dir: str,
    source_platform: str = "stream",
    metrics_path: str | None = None,
    max_files_per_trigger: int = 16,
    partition_by_event_date: bool = False,
    now: datetime | None = None,
):
    """ST1 — continuous upsert ingestion. Returns the StreamingQuery.

    Refine is applied once, to the streaming frame, before ``foreachBatch``.
    Each micro-batch's incremental execution plans it once, and
    ``foreachBatch`` hands the refined rows on as a frame over that
    execution's RDD, so the merge's jobs plan a small tree instead of each
    planning the whole refine expression again. Each micro-batch then:
    latest-wins per event_id → MERGE into the keyed events table;
    optionally append a run-metrics row (ST5).

    ``now`` is the scrape time stamped on every row (``first_scraped``,
    ``last_scraped``, ``created_at``, ``updated_at``) and the reference
    point of the date-sanity scores. A fixed value gives a deterministic
    replay (the oracle-gated q57); ``None`` takes the wall clock once, when
    the query starts, so all micro-batches of one ``availableNow`` run share
    one scrape time.

    The merge orders a batch's rows by ``last_scraped`` descending, and that
    is ``now`` on every row, so it does not rank them: among rows of one
    micro-batch that share an ``event_id`` but differ in content, the row
    kept is arbitrary. Byte-identical re-sends are unaffected.

    ``partition_by_event_date=True`` switches to the partition-pruned MERGE
    (operators.merge.merge_upsert_partitioned) over a table hive-partitioned
    by ``event_date``: a micro-batch only rewrites the date partitions its
    rows land in and those holding its keys, so an event whose start date
    a re-scrape corrected leaves its old partition. This is the production shape — re-scrapes have temporal
    locality, so merge cost tracks the batch, not the table. The default
    whole-table MERGE reports richer stats and suits small tables.
    """
    raw = json_stream(spark, landing_dir, RAW_STREAM_SCHEMA, max_files_per_trigger)
    refined = refine(raw, source_platform, now=now or datetime.now(timezone.utc))

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if partition_by_event_date:
            from ..operators.merge import merge_upsert_partitioned

            with_date = batch_df.withColumn(
                "event_date",
                F.coalesce(
                    F.to_date(F.try_to_timestamp(F.col("datetime.start_date"))),
                    F.lit("1970-01-01").cast("date"),
                ),
            )
            touched = merge_upsert_partitioned(
                spark,
                target_path,
                with_date,
                key_cols=["event_id"],
                partition_col="event_date",
                order_cols=[F.col("scraping_metadata.last_scraped").desc()],
            )
            if metrics_path:
                metrics = spark.createDataFrame(
                    [(batch_id, len(touched), datetime.now(timezone.utc).isoformat())],
                    "batch_id long, partitions_rewritten int, emitted_at string",
                )
                metrics.write.mode("append").parquet(metrics_path)
            return
        stats = merge_upsert(
            spark,
            target_path,
            batch_df,
            key_cols=["event_id"],
            order_cols=[F.col("scraping_metadata.last_scraped").desc()],
        )
        if metrics_path:
            # ST5 — run-level metrics emission (ventura_crawler.py:289-300)
            metrics = spark.createDataFrame(
                [
                    (
                        batch_id,
                        stats.total_incoming,
                        stats.within_batch_duplicates,
                        stats.updated,
                        stats.inserted,
                        stats.target_rows_after,
                        datetime.now(timezone.utc).isoformat(),
                    )
                ],
                "batch_id long, incoming long, within_batch_duplicates long, "
                "updated long, inserted long, target_rows_after long, emitted_at string",
            )
            metrics.write.mode("append").parquet(metrics_path)

    return start(refined, checkpoint_dir, _apply)


# SURVEY ST2
def fresh_rows(df: DataFrame, ts_col: str, max_age_hours: float, now: datetime) -> DataFrame:
    """ST2 — TTL cache predicate: rows scraped within the window
    (ventura_crawler.py:260-287)."""
    cutoff = (now - timedelta(hours=max_age_hours)).replace(tzinfo=None)
    return df.filter(F.try_to_timestamp(F.col(ts_col)) >= F.lit(cutoff).cast("timestamp"))


# SURVEY ST3
def refresh_queue(events: DataFrame, now: datetime) -> DataFrame:
    """ST3 — staleness detection (DF001: scraped > 7d ago; DF002: stale
    future events) + explicit refresh flags (ST4) → rows needing re-scrape."""
    scraped = F.try_to_timestamp(F.col("scraping_metadata.last_scraped"))
    start_ts = F.try_to_timestamp(F.col("datetime.start_date"))
    now_l = F.lit(now.replace(tzinfo=None)).cast("timestamp")
    df001 = scraped < F.lit((now - timedelta(days=7)).replace(tzinfo=None)).cast("timestamp")
    df002 = (start_ts > now_l) & (
        scraped < F.lit((now - timedelta(days=30)).replace(tzinfo=None)).cast("timestamp")
    )
    flagged = F.coalesce(F.col("system_flags.needs_refresh"), F.lit(False))
    reason = (
        F.when(flagged, "explicit_refresh_request")
        .when(df001, "stale_scrape")
        .otherwise("stale_future_event")
    )
    return (
        events.filter(flagged | df001 | df002)
        .select(
            "event_id",
            F.col("scraping_metadata.source_url").alias("source_url"),
            reason.alias("reason"),
        )
    )


def dedup_stream(
    stream_df: DataFrame, id_cols: list[str], ts_col: str = "ts", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact-dedup with bounded state: first row per id wins,
    duplicates arriving within the watermark horizon are dropped, and id
    state is EVICTED once the watermark passes its event time + delay —
    so state is O(ids per watermark window), not O(all ids ever) like
    plain ``dropDuplicates`` on a stream. The cost of bounded state is
    at-least-once across horizons: an id re-sent after eviction emits
    again (dedupe the sink with a batch J3/J4 pass if exactly-once
    matters downstream). The J3 dedup family's streaming analog."""
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(id_cols)


def windowed_event_counts(
    stream_df: DataFrame, ts_col: str = "ts", window_len: str = "1 day", watermark: str = "1 hour"
) -> DataFrame:
    """Tumbling-window counts with late-data watermark — the streaming analog
    of the A2 daily-counts report. Works on both streams and batches."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_len).alias("w"))
        .agg(F.count("*").alias("event_count"))
        .select(F.col("w.start").alias("window_start"), "event_count")
    )
