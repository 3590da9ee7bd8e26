"""The reference's read-API query surface as engine functions (SURVEY §3.1,
Phase 4; SURVEY P1, O1, O3): each FastAPI endpoint
(database/api_server.py) becomes a function
``(events_df, params) -> DataFrame``.

The input is the unified events table (gold layer: nested structs + derived
``start_ts``/``overall_score`` columns from refine). The reference compares
ISO strings lexicographically; the engine compares real timestamps — same
ordering after UTC normalization (SURVEY §1.3). Every time-relative
query takes the clock as its ``now`` argument, so results are a function
of the inputs.

Scale: every function is filter/project/agg over the partitioned events
table — predicate pushdown hits the parquet scan (``start_ts`` range ⇒
partition pruning when partitioned by event date), pagination is top-k, the
venue rollups shuffle once on venue name.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import term_count
from ..operators.pagination import paginate

SUMMARY_COLS = (
    "event_id",
    "title",
    "venue_name",
    "start_date",
    "overall_score",
)


def _summary(df: DataFrame) -> DataFrame:
    """P1 — nested-path summary projection (api_server.py:271-278)."""
    return df.select(
        F.col("event_id"),
        F.col("title"),
        F.col("venue.name").alias("venue_name"),
        F.col("datetime.start_date").alias("start_date"),
        F.col("data_quality.overall_score").alias("overall_score"),
    )


def _now_lit(now: datetime) -> Column:
    return F.lit(now.replace(tzinfo=None)).cast("timestamp")


# SURVEY P6/P7/P8/P10
def get_events(
    events: DataFrame,
    now: datetime,
    min_quality: float = 0.7,
    venue: str | None = None,
    future_only: bool = True,
    limit: int = 50,
    skip: int = 0,
) -> DataFrame:
    """GET /api/events (api_server.py:250-295): quality threshold, optional
    case-insensitive venue regex, future filter, start-date sort, pagination."""
    out = events.filter(F.col("data_quality.overall_score") >= min_quality)
    if venue:
        out = out.filter(F.upper(F.col("venue.name")).rlike(venue.upper()))
    if future_only:
        out = out.filter(F.col("start_ts") >= _now_lit(now))
    page = paginate(
        out, order_by=[F.col("start_ts").asc(), F.col("event_id").asc()], skip=skip, limit=limit
    ) if skip else out.orderBy(F.col("start_ts").asc(), F.col("event_id").asc()).limit(limit)
    return _summary(page)


def get_event_by_id(events: DataFrame, event_id: str) -> DataFrame:
    """GET /api/events/{id} (api_server.py:297-310): PK point lookup.
    At scale: partition/file-stat data skipping on the event_id sort key."""
    return events.filter(F.col("event_id") == event_id)


def search_events(
    events: DataFrame,
    term: str,
    min_quality: float = 0.6,
    limit: int = 20,
) -> DataFrame:
    """GET /api/events/search (api_server.py:314-350): token-AND text search
    with deterministic TF relevance over the precomputed search_blob (T1/T2;
    O3 sort-by-computed-relevance).

    Documented divergence: Mongo's $text score (stemming, idf) is not
    bit-replicated; parity target is same result set, deterministic rank.
    """
    tokens = [t for t in term.lower().split() if t]
    out = events.filter(F.col("data_quality.overall_score") >= min_quality)
    blob = F.col("search_blob")
    relevance = None
    for t in tokens:
        c = term_count(blob, t)
        out = out.filter(c > 0)
        relevance = c if relevance is None else relevance + c
    return (
        out.select(
            "event_id",
            "title",
            F.col("venue.name").alias("venue_name"),
            F.col("datetime.start_date").alias("start_date"),
            F.col("data_quality.overall_score").alias("overall_score"),
            relevance.cast("long").alias("relevance"),
        )
        .orderBy(F.col("relevance").desc(), F.col("event_id").asc())
        .limit(limit)
    )


# SURVEY P3/P9
def get_venues(events: DataFrame, now: datetime) -> DataFrame:
    """GET /api/venues (api_server.py:353-385, A7): per-venue rollup with
    count, rounded avg quality, conditional upcoming counter."""
    upcoming = F.sum(F.when(F.col("start_ts") >= _now_lit(now), 1).otherwise(0))
    return (
        events.filter(F.col("venue.name").isNotNull())
        .groupBy(F.col("venue.name").alias("venueName"))
        .agg(
            F.count("*").alias("eventCount"),
            F.round(F.avg("data_quality.overall_score"), 3).alias("avgQuality"),
            upcoming.alias("upcomingEvents"),
        )
        .orderBy(F.col("eventCount").desc(), F.col("venueName"))
    )


# SURVEY P3
def get_top_venues(events: DataFrame, k: int = 10) -> DataFrame:
    """Top-k venues by quality then count (api_server.py:465-483, A8/W4/O2
    multi-key sort; P3 rename of the group key to venueName)."""
    return (
        events.filter(F.col("venue.name").isNotNull())
        .groupBy(F.col("venue.name").alias("venueName"))
        .agg(
            F.round(F.avg("data_quality.overall_score"), 3).alias("averageQuality"),
            F.count("*").alias("eventCount"),
        )
        .orderBy(F.col("averageQuality").desc(), F.col("eventCount").desc(), F.col("venueName"))
        .limit(k)
    )


# SURVEY P4/P8
def get_venue_events(events: DataFrame, venue_name: str, limit: int = 50) -> DataFrame:
    """GET /api/venues/{name}/events (api_server.py:390-424, P4/P8)."""
    return _summary(
        events.filter(F.upper(F.col("venue.name")).rlike(venue_name.upper()))
        .orderBy(F.col("start_ts").asc(), F.col("event_id").asc())
        .limit(limit)
    )


def get_quality_stats(events: DataFrame) -> DataFrame:
    """GET /api/stats/quality (api_server.py:427-495, A4/A5): one-row global
    aggregate with conditional band counters."""
    s = F.col("data_quality.overall_score")
    return events.agg(
        F.count("*").alias("totalEvents"),
        F.round(F.avg(s), 3).alias("averageQuality"),
        F.sum(F.when(s >= 0.9, 1).otherwise(0)).alias("excellent"),
        F.sum(F.when((s >= 0.8) & (s < 0.9), 1).otherwise(0)).alias("good"),
        F.sum(F.when((s >= 0.7) & (s < 0.8), 1).otherwise(0)).alias("fair"),
        F.sum(F.when(s < 0.7, 1).otherwise(0)).alias("poor"),
    )


# SURVEY P6
def get_upcoming_events(
    events: DataFrame,
    now: datetime,
    days: int = 7,
    min_quality: float = 0.75,
    limit: int = 20,
) -> DataFrame:
    """GET /api/upcoming (api_server.py:498-539, P6 horizon window)."""
    lo = _now_lit(now)
    hi = F.lit((now + timedelta(days=days)).replace(tzinfo=None)).cast("timestamp")
    return _summary(
        events.filter(
            (F.col("start_ts") >= lo)
            & (F.col("start_ts") < hi)
            & (F.col("data_quality.overall_score") >= min_quality)
        )
        .orderBy(F.col("start_ts").asc(), F.col("event_id").asc())
        .limit(limit)
    )


# SURVEY ST4
def mark_for_refresh(events: DataFrame, event_id: str, now: datetime) -> DataFrame:
    """POST /api/events/{id}/refresh (api_server.py:542-564, ST4): returns the
    table with system_flags updated for the matched row; persist via
    operators.merge.merge_upsert on event_id."""
    hit = F.col("event_id") == event_id
    return events.withColumn(
        "system_flags",
        F.when(
            hit,
            F.struct(
                F.col("system_flags.is_featured").alias("is_featured"),
                F.col("system_flags.is_hidden").alias("is_hidden"),
                F.lit(True).alias("needs_refresh"),
                F.lit(now.strftime("%Y-%m-%dT%H:%M:%S+00:00")).alias("refresh_requested_at"),
            ),
        ).otherwise(F.col("system_flags")),
    )


def sitemap_urls(events: DataFrame, limit: int | None = None) -> DataFrame:
    """Sitemap export (mongo_queries.py:37-44): future events' source urls."""
    out = events.select(F.col("scraping_metadata.source_url").alias("url")).filter(
        F.col("url").isNotNull()
    ).distinct().orderBy("url")
    return out.limit(limit) if limit else out


# SURVEY P4
def find_events_by_venue(events: DataFrame, venue_name: str, limit: int = 10) -> DataFrame:
    """find_events_by_venue (mongo_queries.py:15-26): P4 exact nested-field
    equality + P6 future filter + O1 date sort."""
    return _summary(
        events.filter(F.col("venue.name") == venue_name)
        .orderBy(F.col("start_ts").asc(), F.col("event_id").asc())
        .limit(limit)
    )


# SURVEY P5
def find_events_by_artist(events: DataFrame, artist: str, limit: int = 50) -> DataFrame:
    """find_events_by_artist (mongo_queries.py:28-30): P5 — Mongo's
    ``{"acts.act_name": artist}`` matches if ANY array element matches;
    ``exists`` is the Spark HOF with identical semantics (no explode, no
    row multiplication, stays in codegen)."""
    return _summary(
        events.filter(F.exists(F.col("acts"), lambda a: a["act_name"] == F.lit(artist)))
        .orderBy(F.col("start_ts").asc(), F.col("event_id").asc())
        .limit(limit)
    )


# SURVEY P5/P9
def find_events_by_promoter(events: DataFrame, promoter: str, limit: int = 50) -> DataFrame:
    """find_events_by_promoter (mongo_queries.py:32-34): P5 into the doubly
    nested ``venue.stages[].host.host_name`` path; P9 guards the null array."""
    stages = F.col("venue.stages")
    hit = F.when(stages.isNull(), F.lit(False)).otherwise(
        F.exists(stages, lambda s: s["host"]["host_name"] == F.lit(promoter))
    )
    return _summary(
        events.filter(hit)
        .orderBy(F.col("start_ts").asc(), F.col("event_id").asc())
        .limit(limit)
    )


# SURVEY R5/R6
def event_cards(events: DataFrame, limit: int = 100) -> DataFrame:
    """Card projection with derived counts and previews: R5 — ``size`` count
    derivations (mono_ticketmaster.py:382-383 artistCount/imageCount); R6 —
    first-3 artist preview (query_examples.py:87-89 ``slice``)."""
    acts = F.col("acts")
    n_acts = F.when(acts.isNull(), 0).otherwise(F.size(acts))
    return (
        events.select(
            "event_id",
            "title",
            F.col("venue.name").alias("venue_name"),
            F.col("datetime.start_date").alias("start_date"),
            n_acts.cast("int").alias("artist_count"),
            F.slice(acts["act_name"], 1, 3).alias("artist_preview"),
            F.size(F.col("content.keywords")).alias("keyword_count"),
        )
        .orderBy(F.col("start_date").asc(), F.col("event_id").asc())
        .limit(limit)
    )
