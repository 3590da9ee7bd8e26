"""The refine pipeline (SURVEY D3/D4, R4-R7, W2, F19): raw scraped rows →
unified events.

Re-expresses the reference's ``map_to_unified_schema`` orchestration
(schema_adapter_enhanced.py:429-471) as one declarative column pipeline:

1. clean + normalize scalars (F11/F13/F15),
2. deterministic ids (J1, bit-identical uuid5 trick),
3. nested structure assembly (acts/stages with positional headliner,
   W1/R4; open maps R7),
4. field normalization (genres F16, timezone F17, price F9),
5. quality scoring (D1/D2) + validation flags,
6. scraping metadata + system defaults.

Input shape: the raw calendar/card rows of FIXTURES.md §1/§2 —
``title, url, venue, date_text (or time), lineup array<struct<name,room?,role?>>,
price_text?, genres?, description?``. Missing columns are tolerated (filled
with NULL) so heterogeneous sources union cleanly (J7/U1).

Everything is projections — at 100 TB this is a scan + map with zero
shuffles; the only shuffle in the ingest DAG is the final dedup/merge. Deep
helpers used more than once (the shared scalars, the five field scorers) sit
behind a projection boundary and are read by name, which keeps the analyzed
plan small.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.dates import parse_club_date, to_utc_iso
from .functions.ids import generate_unique_id
from .functions.normalize import normalize_genres, normalize_venue_name, timezone_from_location
from .functions.quality import with_data_quality
from .functions.strings import (
    classify_event_type,
    extract_price,
    normalize_text_v2,
    normalize_url,
    python_strip,
)
from .functions.text import search_blob

RAW_COLUMNS = ("title", "url", "venue", "date_text", "lineup", "price_text", "genres", "description")


def _ensure_columns(df: DataFrame) -> DataFrame:
    cols = set(df.columns)
    if "lineup" not in cols:
        df = df.withColumn(
            "lineup", F.lit(None).cast("array<struct<name:string,role:string>>")
        )
    for c in ("title", "url", "venue", "date_text", "price_text", "description"):
        if c not in cols:
            df = df.withColumn(c, F.lit(None).cast("string"))
    if "genres" not in cols:
        df = df.withColumn("genres", F.lit(None).cast("array<string>"))
    return df


def refine(
    df: DataFrame,
    source_platform: str,
    now: datetime,
    default_city: str = "Ibiza",
    default_country: str = "Spain",
) -> DataFrame:
    """Raw rows → unified event rows (a scan + map, SURVEY D4). Works on
    batch and streaming frames alike. ``now`` stamps the scrape and
    audit timestamps and anchors the quality scorer's date checks."""
    now_iso = now.strftime("%Y-%m-%dT%H:%M:%S+00:00")
    df = _ensure_columns(df)

    # Shared scalars: deep trees that the projection below uses several
    # times each, so they are projected once here and read by name (ROADMAP
    # gotcha "Catalyst-analysis blowup").
    raw_date = F.coalesce(F.col("date_text"), F.lit(""))
    df = df.select(
        "*",
        F.coalesce(normalize_text_v2(F.col("title")), F.lit("Untitled Event")).alias("__title"),
        F.coalesce(
            normalize_venue_name(normalize_text_v2(F.col("venue"))), F.lit("Unknown Venue")
        ).alias("__venue_name"),
        raw_date.alias("__raw_date"),
        parse_club_date(raw_date).alias("__start_ts"),
        extract_price(F.col("price_text")).alias("__price"),
    )
    title, venue_name, raw_date = F.col("__title"), F.col("__venue_name"), F.col("__raw_date")
    url = normalize_url(F.col("url"))

    # J1 — event/venue/artist ids, uuid5-parity (schema_adapter_enhanced.py:480-483,615,655)
    event_id = generate_unique_id(source_platform, F.concat(title, F.lit("_"), raw_date))
    venue_id = generate_unique_id("venue", venue_name)

    # W1 — positional headliner + billing order (schema_adapter_enhanced.py:646-682)
    # act names strip with python_strip: the reference strips artist names
    # with str.strip() (schema_adapter_enhanced.py:297) before id generation.
    lineup = F.coalesce(F.col("lineup"), F.lit(None).cast(df.schema["lineup"].dataType))
    named = F.filter(lineup, lambda a: a["name"].isNotNull() & (python_strip(a["name"]) != ""))

    def _act(a):
        role = a["role"] if "role" in df.schema["lineup"].dataType.elementType.fieldNames() else F.lit(None)
        return F.struct(
            generate_unique_id("artist", python_strip(a["name"])).alias("act_id"),
            python_strip(a["name"]).alias("act_name"),
            F.lower(F.coalesce(role, F.lit("dj"))).alias("act_type"),
            F.array().cast("array<string>").alias("genres"),
            F.array().cast("array<string>").alias("styles"),
            F.map_from_arrays(F.array(), F.array()).cast("map<string,string>").alias("social_media"),
            F.map_from_arrays(F.array(), F.array()).cast("map<string,string>").alias(
                "popularity_metrics"
            ),
        )

    acts = F.transform(named, _act)
    stage_acts = F.transform(
        named,
        lambda a, i: F.struct(
            generate_unique_id("artist", python_strip(a["name"])).alias("act_id"),
            F.struct(
                F.lit(None).cast("string").alias("start"),
                F.lit(None).cast("string").alias("end"),
                F.lit(None).cast("int").alias("duration_minutes"),
            ).alias("set_time"),
            (i + 1).cast("int").alias("billing_order"),
            (i == 0).alias("is_headliner"),
        ),
    )

    # F3 — club-default datetime from the raw date text
    start_date_iso = to_utc_iso(F.col("__start_ts"))
    tz = timezone_from_location(F.concat_ws(" ", venue_name, F.lit(default_city)))

    datetime_struct = F.struct(
        start_date_iso.alias("start_date"),
        F.lit(None).cast("string").alias("end_date"),
        tz.alias("timezone"),
        F.lit(None).cast("string").alias("doors_open"),
        F.lit(None).cast("string").alias("last_entry"),
        F.lit(False).alias("is_all_day"),
        F.lit(None).cast("double").alias("duration_hours"),
        F.struct(
            F.lit(False).alias("is_recurring"),
            F.lit(None).cast("string").alias("frequency"),
            F.nullif(raw_date, F.lit("")).alias("pattern_description"),
            F.lit(None).cast("string").alias("end_recurrence"),
        ).alias("recurring"),
    )

    venue_struct = F.struct(
        venue_id.alias("venue_id"),
        venue_name.alias("name"),
        F.struct(
            F.lit(None).cast("string").alias("street"),
            F.lit(default_city).alias("city"),
            F.lit(None).cast("string").alias("state"),
            F.lit(default_country).alias("country"),
            F.lit(None).cast("string").alias("postal_code"),
            F.lit(None).cast("string").alias("full_address"),
        ).alias("address"),
        F.struct(
            F.lit("Point").alias("type"), F.array().cast("array<double>").alias("coordinates")
        ).alias("coordinates"),
        F.lit("club").alias("venue_type"),
        F.lit(None).cast("int").alias("total_capacity"),
        F.map_from_arrays(F.array(), F.array()).cast("map<string,string>").alias("social_links"),
        F.array(
            F.struct(
                F.lit("main_stage").alias("stage_id"),
                F.lit("Main Stage").alias("stage_name"),
                F.struct(
                    F.lit(None).cast("string").alias("host_name"),
                    F.lit(None).cast("string").alias("host_id"),
                ).alias("host"),
                F.array().cast("array<string>").alias("stage_genres"),
                stage_acts.alias("acts"),
            )
        ).alias("stages"),
    )

    # F19 — event-type classifier (schema_adapter_enhanced.py:570-583)
    event_type = classify_event_type(title, venue_name)

    # F16 — genres; F9 — price
    genres_norm = normalize_genres(F.coalesce(F.col("genres"), F.array().cast("array<string>")))
    price = F.col("__price")

    music_struct = F.struct(
        F.try_element_at(genres_norm, F.lit(1)).alias("primary_genre"),
        genres_norm.alias("sub_genres"),
        F.array().cast("array<string>").alias("mood_tags"),
        F.lit(None).cast("int").alias("energy_level"),
        F.lit(None).cast("double").alias("genre_confidence"),
    )

    ticketing_struct = F.struct(
        url.alias("tickets_url"),
        F.when(price["amount"].isNull(), F.lit(None).cast("boolean"))
        .otherwise(price["amount"] == 0.0)
        .alias("is_free"),
        F.struct(
            F.lit(None).cast("int").alias("minimum_age"),
            F.lit(None).cast("string").alias("restriction_type"),
        ).alias("age_restriction"),
        F.array().cast("array<string>").alias("promos"),
        F.when(
            price["amount"].isNotNull() & (price["amount"] > 0),
            F.array(
                F.struct(
                    F.lit("Standard").alias("tier_name"),
                    price["amount"].alias("tier_price"),
                    price["currency"].alias("currency"),
                    F.lit(None).cast("string").alias("sale_start"),
                    F.lit(None).cast("string").alias("sale_end"),
                    F.lit(False).alias("is_sold_out"),
                    F.lit(False).alias("is_nearly_sold_out"),
                )
            ),
        )
        .otherwise(F.array().cast(
            "array<struct<tier_name:string,tier_price:double,currency:string,"
            "sale_start:string,sale_end:string,is_sold_out:boolean,is_nearly_sold_out:boolean>>"
        ))
        .alias("tiers"),
        F.array().cast("array<string>").alias("external_platforms"),
    )

    content_struct = F.struct(
        F.lit(None).cast("string").alias("short_description"),
        normalize_text_v2(F.col("description")).alias("full_description"),
        F.array().cast("array<string>").alias("keywords"),
        F.array().cast("array<string>").alias("hashtags"),
    )

    base = df.select(
        event_id.alias("event_id"),
        event_id.alias("canonical_id"),
        title.alias("title"),
        event_type.alias("type"),
        F.lit("scheduled").alias("status"),
        datetime_struct.alias("datetime"),
        venue_struct.alias("venue"),
        acts.alias("acts"),
        content_struct.alias("content"),
        music_struct.alias("music"),
        ticketing_struct.alias("ticketing"),
        F.struct(
            F.lit(source_platform).alias("source_platform"),
            F.col("url").alias("source_url"),
            F.lit(None).cast("string").alias("source_event_id"),
            F.lit(now_iso).alias("first_scraped"),
            F.lit(now_iso).alias("last_scraped"),
            F.lit("2.0").alias("scraper_version"),
            F.map_from_arrays(F.array(), F.array()).cast("map<string,string>").alias("raw_data"),
        ).alias("scraping_metadata"),
        F.struct(
            F.lit(True).alias("is_canonical"),
            F.array().cast("array<string>").alias("merged_from_ids"),
            F.array().cast("array<string>").alias("merge_log"),
        ).alias("deduplication"),
        F.lit(now_iso).alias("created_at"),
        F.lit(now_iso).alias("updated_at"),
        F.struct(
            F.lit(False).alias("is_featured"),
            F.lit(False).alias("is_hidden"),
            F.lit(False).alias("needs_refresh"),
            F.lit(None).cast("string").alias("refresh_requested_at"),
        ).alias("system_flags"),
    )

    # D1/D2 — quality scoring over the assembled structures
    scored = with_data_quality(base, now)

    # Gold-layer derived columns (query accelerators; SURVEY §1.5)
    return (
        scored.withColumn("start_ts", F.to_timestamp(F.col("datetime.start_date")))
        .withColumn("venue_name", F.col("venue.name"))
        .withColumn("overall_score", F.col("data_quality.overall_score"))
        .withColumn(
            "search_blob",
            search_blob(
                F.col("title"),
                F.col("content.full_description"),
                F.col("venue.name"),
                F.array_join(F.col("acts.act_name"), " "),
            ),
        )
    )


def deduplicate_events(df: DataFrame) -> DataFrame:
    """J3 — drop duplicate (source_url, start_date) pairs, keeping the first
    by event_id for determinism (reference data_migration.py:80-100)."""
    from pyspark.sql import Window

    w = Window.partitionBy(
        F.col("scraping_metadata.source_url"), F.col("datetime.start_date")
    ).orderBy(F.col("event_id"))
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
