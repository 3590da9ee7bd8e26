"""q57 — ST1 streaming ingest under the oracle gate (VERDICT r1 item 7).

A deterministic batch replay of the REAL streaming path: three raw JSON
batches derived from ``documents`` land in a temp directory, Structured
Streaming (``stream_ingest``: JSON file stream → refine → foreachBatch MERGE,
availableNow, maxFilesPerTrigger=1) ingests them in mtime order, and the
query returns the final merged table state. Batches 1/2 re-scrape subsets
(doc_id % 3 == 0, then % 5 == 0) with new descriptions, so the final state
verifies MERGE's last-writer-wins upsert semantics end-to-end — landing →
refine → keyed MERGE — not just the per-operator pieces.

The oracle reconstructs the expected final state in SQL: per event, the
description of the LAST batch that scraped it, plus the refine-normalized
title/venue/type/genre columns (the q50-proved mirrors). ``refine`` runs
with a fixed ``now`` so scrape timestamps are replay-stable. uuid5 event
ids stay out of the projection (DuckDB has no sha1; they are golden-tested
in test_functions).

Driver-sized input generation (collecting doc_ids to write landing JSON) is
test harnessing, not the operator — the ingest itself is the streaming
engine over files.
"""

from __future__ import annotations

import os
import tempfile
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..streaming.pipeline import stream_ingest
from ..streaming.runner import drain, json_stream, land_batches, start

QUERIES: dict = {}
ORACLES: dict = {}

_NOW = datetime(2025, 6, 1, tzinfo=timezone.utc)

# Input authoring for the replay harnesses collects doc ids onto the driver
# to write landing JSON. That is HARNESS-ONLY code (the path under test is
# the distributed streaming job), but the collect is capped by construction
# so pointing the harness at a production-scale table can't pull an
# unbounded id list driver-side. Every oracle carries the same
# `doc_id < HARNESS_ID_CAP` predicate; at the test SFs (≤ sf0.1, ids
# 0..4999) the cap is a no-op.
HARNESS_ID_CAP = 100_000


def _harness_ids(d: DataFrame) -> list[int]:
    return [
        r[0]
        for r in d.select("doc_id")
        .filter(F.col("doc_id") < HARNESS_ID_CAP)
        .collect()
    ]


def _row(m: int, hhmm: str, key: str = "doc_id") -> dict:
    """One replay row of 2025-06-01 at ``hhmm``."""
    return {"ts": f"2025-06-01T{hhmm}:00+00:00", key: m}


def _replay_to_parquet(spark, prefix, batches, schema, plan) -> DataFrame:
    """Land ``batches``, stream them through ``plan`` into an append-mode
    parquet sink and return the drained sink."""
    root = tempfile.mkdtemp(prefix=prefix)
    landing = os.path.join(root, "landing")
    land_batches(landing, batches)
    target = os.path.join(root, "sink")
    drain(start(plan(json_stream(spark, landing, schema)), os.path.join(root, "ckpt"), target))
    return spark.read.parquet(target)


def _raw_row(m: int, version: int) -> dict:
    title = f"Stream Festival {m}" if m % 7 == 0 else f"Stream Event {m}"
    venue = "amnesia" if m % 3 == 0 else ("Main Room" if m % 3 == 1 else "hi ibiza")
    return {
        "title": title,
        "url": f"https://stream.example.com/e/{m}",
        "venue": venue,
        "date_text": f"2025-05-{m % 28 + 1:02d}",
        "lineup": [],
        "price_text": "10€",
        "genres": ["tech house"],
        "description": f"v{version}",
        "scraped_at": f"2025-05-0{version + 1}T00:00:00+00:00",
    }


def q57_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ids = _harness_ids(d)

    root = tempfile.mkdtemp(prefix="q57_stream_")
    landing = os.path.join(root, "landing")
    members = [ids, [m for m in ids if m % 3 == 0], [m for m in ids if m % 5 == 0]]
    land_batches(landing, [[_raw_row(m, v) for m in ms] for v, ms in enumerate(members)])

    target = os.path.join(root, "events")
    drain(
        stream_ingest(
            spark,
            landing,
            target,
            os.path.join(root, "ckpt"),
            source_platform="stream.example.com",
            max_files_per_trigger=1,
            now=_NOW,
        )
    )

    t = spark.read.parquet(target)
    return t.select(
        F.col("title"),
        F.col("venue_name"),
        F.col("type").alias("event_type"),
        F.col("content.full_description").alias("description"),
        F.col("music.primary_genre").alias("primary_genre"),
        F.col("ticketing.tiers")[0]["tier_price"].alias("tier_price"),
        F.col("scraping_metadata.last_scraped").alias("last_scraped"),
    )


def q60_stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation under the gate: 1h windows,
    2h watermark, append-mode parquet sink, three batches replayed in mtime
    order (maxFilesPerTrigger=1). Late-data semantics are forced by
    construction and mirrored in the oracle by constant arithmetic.

    Measured Spark microbatch rule (verified empirically, and the design is
    insensitive to the one-batch lag): the late-row FILTER in batch N uses
    the watermark computed after batch N-2, while state EVICTION at batch
    N's end uses the one after batch N-1 (W_k = max event time through
    batch k, minus delay).

    - batch 0: every doc at 00:30 (even doc_id) / 01:30 (odd); watermark
      marker at 04:30 → W0 = 02:30.
    - batch 1: docs %5==0 at 02:45 (on time either way); marker at 06:30 →
      W1 = 04:30. Eviction with W0 closes hours 0-1.
    - batch 2: docs %3==0 re-sent at 00:45 — LATE: window end 01:00 ≤
      02:30 = W0 (≤ W1 too) → DROPPED; docs %7==0 at 05:15 — end 06:00 >
      both → kept; flush marker at 23:30 → final W2 = 21:30 closes every
      window except the marker's own [23:00, 24:00).

    Expected sink: hour 0 = even docs EXACTLY ONCE (if the drop failed, the
    already-evicted hour-0 window would re-open and emit a second row —
    the oracle's 6-row shape verifies the drop), hour 1 = odd docs, hour 2
    = %5 docs, hour 4 = 1 (marker), hour 5 = %7 docs, hour 6 = 1 (marker);
    hour 23 absent. Verifies the drop rule, append-mode window closing,
    and the final no-data flush batch — none of which a batch query
    exercises.
    """
    from ..streaming.pipeline import windowed_event_counts

    d = load_table(spark, sf_dir, "documents")
    ids = _harness_ids(d)

    batches = [
        [_row(m, "00:30" if m % 2 == 0 else "01:30") for m in ids] + [_row(-1, "04:30")],
        [_row(m, "02:45") for m in ids if m % 5 == 0] + [_row(-2, "06:30")],
        [_row(m, "00:45") for m in ids if m % 3 == 0]
        + [_row(m, "05:15") for m in ids if m % 7 == 0]
        + [_row(-3, "23:30")],
    ]
    t = _replay_to_parquet(
        spark, "q60_stream_", batches, "ts timestamp, doc_id long",
        lambda raw: windowed_event_counts(
            raw, ts_col="ts", window_len="1 hour", watermark="2 hours"
        ),
    )
    return t.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.col("event_count").cast("bigint").alias("event_count"),
    )


QUERIES["q57_stream_replay"] = q57_stream_replay
# Expected final table state: last batch that scraped each event wins
# (b2 ⊃ m%5=0 beats b1 ⊃ m%3=0 beats b0 ⊃ all); title/venue/type/genre
# mirror refine's normalizations, last_scraped is the fixed replay `now`.
ORACLES["q57_stream_replay"] = """
    SELECT
        CASE WHEN doc_id % 7 = 0 THEN 'Stream Festival ' || CAST(doc_id AS VARCHAR)
             ELSE 'Stream Event ' || CAST(doc_id AS VARCHAR) END AS title,
        CASE WHEN doc_id % 3 = 0 THEN 'Amnesia'
             WHEN doc_id % 3 = 1 THEN 'Main Room'
             ELSE 'Hï Ibiza' END AS venue_name,
        CASE WHEN doc_id % 7 = 0 THEN 'festival' ELSE 'club_night' END AS event_type,
        CASE WHEN doc_id % 5 = 0 THEN 'v2'
             WHEN doc_id % 3 = 0 THEN 'v1'
             ELSE 'v0' END AS description,
        'Tech House' AS primary_genre,
        CAST(10.0 AS DOUBLE) AS tier_price,
        '2025-06-01T00:00:00+00:00' AS last_scraped
    FROM documents WHERE doc_id < 100000
"""

QUERIES["q60_stream_windowed_counts"] = q60_stream_windowed_counts
# Expected final sink state per the replay construction in the docstring:
# late rows (batch-1 hour-0 re-sends, batch-2 hour-3 rows) are dropped by
# the watermark; the flush marker's own window never closes.
ORACLES["q60_stream_windowed_counts"] = """
    WITH c AS (
        SELECT
            CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS h0,
            CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
            CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS h2,
            CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS h5
        FROM documents WHERE doc_id < 100000
    )
    SELECT '2025-06-01 00:00:00' AS window_start, h0 AS event_count FROM c
    UNION ALL SELECT '2025-06-01 01:00:00', h1 FROM c
    UNION ALL SELECT '2025-06-01 02:00:00', h2 FROM c
    UNION ALL SELECT '2025-06-01 04:00:00', CAST(1 AS BIGINT)
    UNION ALL SELECT '2025-06-01 05:00:00', h5 FROM c
    UNION ALL SELECT '2025-06-01 06:00:00', CAST(1 AS BIGINT)
"""


def q62_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with bounded state (dropDuplicatesWithinWatermark)
    under the gate. Three mtime-ordered batches, 1h watermark delay.
    State eviction at batch N's end uses the watermark computed after
    batch N-1 (the same one-batch lag q60 documents), so a padding batch
    separates first-send from re-send:

    - batch 0: every doc at 01:00, PLUS byte-identical duplicates of
      %5==0 docs (same id, same ts — dropped in-horizon), marker at
      10:00 → W0 = 09:00.
    - batch 1: marker at 11:00 only. Eviction at its end runs with W0 =
      09:00, which passes every doc's horizon (01:00 + 1h) → all doc id
      state evicts.
    - batch 2: %3==0 docs re-sent at 10:30 — id state gone, they EMIT
      AGAIN; flush marker at 23:00.

    Expected per-id emit counts: 1 + [id%3==0] for docs, 1 per marker.
    Plain keep-state-forever dropDuplicates would emit every doc exactly
    once — the oracle's counts verify the watermark EVICTION, and the %5
    duplicates verify the in-horizon drop.
    """
    from ..streaming.pipeline import dedup_stream

    d = load_table(spark, sf_dir, "documents")
    ids = _harness_ids(d)

    batches = [
        [_row(m, "01:00") for m in ids]
        + [_row(m, "01:00") for m in ids if m % 5 == 0]
        + [_row(-1, "10:00")],
        [_row(-2, "11:00")],
        [_row(m, "10:30") for m in ids if m % 3 == 0] + [_row(-3, "23:00")],
    ]
    t = _replay_to_parquet(
        spark, "q62_stream_", batches, "ts timestamp, doc_id long",
        lambda raw: dedup_stream(raw, ["doc_id"], ts_col="ts", watermark="1 hour"),
    )
    return t.groupBy("doc_id").agg(F.count("*").alias("n_emitted"))


QUERIES["q62_stream_dedup"] = q62_stream_dedup
# Per-id emit counts per the replay construction: one first emission plus
# one re-emission per post-eviction re-send; markers once each.
ORACLES["q62_stream_dedup"] = """
    SELECT doc_id,
           CAST(1 + (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_emitted
    FROM documents WHERE doc_id < 100000
    UNION ALL SELECT -1, CAST(1 AS BIGINT)
    UNION ALL SELECT -2, CAST(1 AS BIGINT)
    UNION ALL SELECT -3, CAST(1 AS BIGINT)
"""


def q63_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance under the gate: events split into
    three disjoint batches (event_id % 3 — any decomposition must give the
    same result), each folded into a stored rollup table with fold_rollup
    (partial-agg union + re-aggregate + atomic swap). The final table must
    equal the from-scratch GROUP BY over all events — the mergeability
    invariant, hash-verified cross-engine. Sums accumulate in DECIMAL so
    the result is independent of batch order/split.
    """
    from ..operators.rollup import fold_rollup

    e = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="q63_rollup_")
    target = os.path.join(root, "rollup")
    out = None
    for i in range(3):
        batch = e.filter(F.col("event_id") % 3 == i)
        out = fold_rollup(
            spark,
            target,
            batch.withColumn("ts2", F.col("ts")),
            key_cols=["event_type"],
            sum_cols=["value"],
            min_cols=["ts"],
            max_cols=["ts2"],
        )
    return out.select(
        "event_type",
        "n",
        F.col("value").cast("double").alias("sum_value"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("min_ts"),
        F.date_format("ts2", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("max_ts"),
        F.round(F.col("value").cast("double") / F.col("n"), 6).alias("avg_value"),
    )


QUERIES["q63_incremental_rollup"] = q63_incremental_rollup
# From-scratch aggregate over all events — must equal the 3-batch fold.
ORACLES["q63_incremental_rollup"] = """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS min_ts,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS max_ts,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS avg_value
    FROM events
    GROUP BY event_type
"""


def q65_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (F.session_window) under the gate: 30min
    gap, 10min watermark, append-mode parquet sink. A session closes when
    the watermark passes its end (last event + gap); eviction at batch N's
    end uses the batch N-1 watermark (the measured lag q60 documents), so
    the watermark-advancing markers ride in later batches:

    - batch 0: every doc at 01:00 and 01:10 (one session: gap 10min <
      30min, window [01:00, 01:40)); even docs again at 02:30 (a SECOND
      session [02:30, 03:00) — 80min > gap); marker -1 at 10:00.
    - batch 1: marker -2 at 23:00 → eviction here runs with W0 = 09:50,
      closing every doc session; marker -1's own session (end 10:30) is
      not yet closed.
    - final no-data batch: eviction with W1 = 22:50 closes marker -1's
      session; marker -2's (end 23:30) never closes and must be absent.

    Expected sink: (doc, 01:00, n=2) for all docs, (doc, 02:30, n=1) for
    even docs, (-1, 10:00, n=1). Verifies in-gap merging, gap splitting,
    session-end eviction, and the unfinished-session hold-back.
    """
    d = load_table(spark, sf_dir, "documents")
    ids = _harness_ids(d)

    def _uid(m: int, hhmm: str) -> dict:
        return _row(m, hhmm, key="uid")

    batches = [
        [_uid(m, "01:00") for m in ids]
        + [_uid(m, "01:10") for m in ids]
        + [_uid(m, "02:30") for m in ids if m % 2 == 0]
        + [_uid(-1, "10:00")],
        [_uid(-2, "23:00")],
    ]
    return _replay_to_parquet(
        spark, "q65_stream_", batches, "ts timestamp, uid long",
        lambda raw: (
            raw.withWatermark("ts", "10 minutes")
            .groupBy(F.session_window("ts", "30 minutes").alias("w"), "uid")
            .agg(F.count("*").alias("n"))
            .select(
                "uid",
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
                F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
                "n",
            )
        ),
    )


QUERIES["q65_stream_session_windows"] = q65_stream_session_windows
# Session window end = last event + gap (30min).
ORACLES["q65_stream_session_windows"] = """
    SELECT doc_id AS uid, '2025-06-01 01:00:00' AS session_start,
           '2025-06-01 01:40:00' AS session_end, CAST(2 AS BIGINT) AS n
    FROM documents WHERE doc_id < 100000
    UNION ALL
    SELECT doc_id, '2025-06-01 02:30:00', '2025-06-01 03:00:00', CAST(1 AS BIGINT)
    FROM documents WHERE doc_id % 2 = 0 AND doc_id < 100000
    UNION ALL
    SELECT -1, '2025-06-01 10:00:00', '2025-06-01 10:30:00', CAST(1 AS BIGINT)
"""


# --------------------------------------------------------------------------
# q80 — STREAM-STREAM interval join (streaming/joins.py): clicks ⋈
# purchases on user within [click_ts, click_ts + 1h], 2h watermarks both
# sides, three paired micro-batches per stream (mtime order,
# maxFilesPerTrigger=1 each).
#
# The construction proves three streaming-only behaviors:
# - same-batch match: every user clicks at 01:00, users %2 purchase at
#   01:30 → emitted in batch 0;
# - cross-batch state: users %5 click at 05:10 (batch 1) and purchase at
#   05:40 (batch 2) — the click is served from join state;
# - late drop: users %3 purchase at 01:40 arrives in batch 2, but the
#   input filter there uses the watermark after batch 0 (max 05:00 − 2h =
#   03:00) → dropped. It WOULD have matched the 01:00 click in batch
#   semantics — its absence from the sink is the streaming proof. (Inner
#   joins make eviction safe: an evicted match implies a beyond-watermark
#   row, so input drop is the only observable.)
# The oracle states the surviving matches by constant arithmetic.
def q80_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.joins import stream_interval_join

    d = load_table(spark, sf_dir, "documents")
    ids = _harness_ids(d)

    def _user(u: int, hhmm: str) -> dict:
        return _row(u, hhmm, key="user_id")

    root = tempfile.mkdtemp(prefix="q80_stream_")
    clicks_dir = os.path.join(root, "clicks")
    purch_dir = os.path.join(root, "purchases")
    land_batches(clicks_dir, [
        [_user(m, "01:00") for m in ids] + [_user(-1, "05:00")],
        [_user(m, "05:10") for m in ids if m % 5 == 0] + [_user(-2, "05:30")],
        [_user(-3, "23:00")],
    ])
    land_batches(purch_dir, [
        [_user(m, "01:30") for m in ids if m % 2 == 0] + [_user(-11, "05:00")],
        [_user(-12, "05:30")],
        [_user(m, "01:40") for m in ids if m % 3 == 0]  # late → dropped
        + [_user(m, "05:40") for m in ids if m % 5 == 0]
        + [_user(-13, "23:00")],
    ])

    schema = "user_id long, ts timestamp"
    clicks = json_stream(spark, clicks_dir, schema).withColumnRenamed("ts", "click_ts")
    purchases = json_stream(spark, purch_dir, schema).withColumnRenamed("ts", "purchase_ts")
    joined = stream_interval_join(
        clicks, purchases, "user_id", "click_ts", "purchase_ts",
        window="1 hour", watermark="2 hours",
    )
    target = os.path.join(root, "joined")
    drain(start(joined, os.path.join(root, "ckpt"), target))

    t = spark.read.parquet(target)
    return t.select(
        "user_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
    )


QUERIES["q80_stream_stream_join"] = q80_stream_stream_join
ORACLES["q80_stream_stream_join"] = """
    SELECT doc_id AS user_id,
           '2025-06-01 01:00:00' AS click_ts,
           '2025-06-01 01:30:00' AS purchase_ts
    FROM documents WHERE doc_id % 2 = 0 AND doc_id < 100000
    UNION ALL
    SELECT doc_id, '2025-06-01 05:10:00', '2025-06-01 05:40:00'
    FROM documents WHERE doc_id % 5 = 0 AND doc_id < 100000
"""


# --------------------------------------------------------------------------
# q101 — STREAM-STATIC join under the gate: the streaming doc feed is
# enriched with the static documents dimension (doc_id → lang) BEFORE the
# watermarked windowed aggregation — the standard in-stream dimension-
# enrichment shape (Structured Streaming plans the static side as a batch
# relation inside every micro-batch; no state is kept for it). Watermark
# markers (-1, -2) are authored into the stream to advance event time but
# never match the dimension, so the inner join drops them — they steer
# window eviction without polluting the sink, which also proves the
# watermark is tracked upstream of the join. Two data-less eviction
# batches follow the data batch (the measured one-batch lag, see q60).
def q101_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ids = _harness_ids(d)

    batches = [
        [_row(m, f"0{1 + m % 3}:00") for m in ids] + [_row(-1, "10:00")],
        [_row(-2, "23:00")],
    ]
    dim = d.select("doc_id", "lang")
    return _replay_to_parquet(
        spark, "q101_stream_", batches, "ts timestamp, doc_id long",
        lambda raw: (
            raw.withWatermark("ts", "2 hours")
            .join(dim, "doc_id")  # stream-static inner join, batch side per micro-batch
            .groupBy(F.window("ts", "1 hour").alias("w"), "lang")
            .agg(F.count("*").alias("n"))
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                "lang",
                "n",
            )
        ),
    )


QUERIES["q101_stream_static_join"] = q101_stream_static_join
# Expected closed windows: hour 1+h for docs with doc_id % 3 == h, joined
# to each doc's lang; markers are dropped by the join and only advance
# the watermark (final W = 21:00 closes all three data windows).
ORACLES["q101_stream_static_join"] = """
    SELECT CASE CAST(doc_id % 3 AS INTEGER)
             WHEN 0 THEN '2025-06-01 01:00:00'
             WHEN 1 THEN '2025-06-01 02:00:00'
             ELSE '2025-06-01 03:00:00' END AS window_start,
           lang,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM documents WHERE doc_id < 100000
    GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q104 — STREAMING SCD2 / as-of dimension enrichment (VERDICT r4 item 5):
# three probe batches stream through foreachBatch and join the q84 SCD2
# history table AS-OF each probe's event time (version valid at that
# instant: vf <= pts < vt, NULL vt = current). The append sink is
# non-idempotent, so it runs under the same atomically-committed batch-id
# guard as the CMS sink (streaming/joins.py stream_asof_enrich →
# sketch_stream.guarded_merge_sink). The oracle replays the identical
# as-of join in SQL over the shared SCD2 CTE — batch equivalence is the
# gated invariant.
from .analytics import SCD2_HIST_CTE  # noqa: E402

_Q104_PROBE_DAYS = ["2024-01-05", "2024-01-15", "2024-01-25"]


def q104_stream_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.joins import stream_asof_enrich
    from ..streaming.store import read_table
    from .analytics import scd2_history_raw

    e = load_table(spark, sf_dir, "events")
    uids = sorted(
        r[0]
        for r in e.select("user_id")
        .filter(F.col("user_id") < HARNESS_ID_CAP)
        .distinct()
        .collect()
    )

    root = tempfile.mkdtemp(prefix="q104_stream_")
    landing = os.path.join(root, "landing")
    land_batches(landing, [
        [{"user_id": u, "pts": f"{day}T12:00:00+00:00"} for u in uids]
        for day in _Q104_PROBE_DAYS
    ])

    target = os.path.join(root, "enriched")
    drain(
        stream_asof_enrich(
            spark,
            landing,
            scd2_history_raw(e),
            target,
            os.path.join(root, "ckpt"),
            schema="user_id long, pts timestamp",
        )
    )

    return read_table(spark, target).select(
        "user_id",
        F.date_format("pts", "yyyy-MM-dd HH:mm:ss").alias("probe_ts"),
        "version",
        "band",
    )


QUERIES["q104_stream_scd2_enrich"] = q104_stream_scd2_enrich
_Q104_PROBES_SQL = ", ".join(
    f"TIMESTAMP '{d} 12:00:00'" for d in _Q104_PROBE_DAYS
)
ORACLES["q104_stream_scd2_enrich"] = f"""
    WITH {SCD2_HIST_CTE},
    probes AS (
        SELECT user_id, pts
        FROM (SELECT DISTINCT user_id FROM events WHERE user_id < {HARNESS_ID_CAP}),
             (SELECT unnest([{_Q104_PROBES_SQL}]) AS pts)
    )
    SELECT p.user_id,
           strftime(p.pts, '%Y-%m-%d %H:%M:%S') AS probe_ts,
           h.version, h.band
    FROM probes p JOIN hist h
      ON p.user_id = h.user_id
     AND h.vf <= p.pts
     AND (h.vt IS NULL OR p.pts < h.vt)
"""
