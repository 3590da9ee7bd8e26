"""Golden-value tests for the quality scoring engine (SURVEY D1/D2/§5.1).

Expected values were generated by running the reference implementation
(/root/reference/database/quality_scorer.py QualityScorer.calculate_event_quality)
over the fixture events below — differential testing per SURVEY §5: same
inputs, exact same scores (bit-identical float accumulation) and flag sets.
"""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructField, StructType

from scraper_db_refine_merge_spark import schemas as SC
from scraper_db_refine_merge_spark.functions.quality import (
    quality_level,
    score_title_info_sql,
    weak_fields,
    with_data_quality,
)

NOW = datetime(2026, 8, 13, 12, 0, 0, tzinfo=timezone.utc)

EVENT_SCHEMA = StructType(
    [
        StructField("name", SC.S),
        StructField("title", SC.S),
        StructField("datetime", SC.DATETIME_SECTION),
        StructField("venue", SC.VENUE),
        StructField("acts", ArrayType(SC.ACT)),
        StructField("ticketing", SC.TICKETING),
    ]
)

# Python dict fixtures mirrored from the reference run; empty dict sections → None
FIXTURES = [
    {
        "name": "good_full",
        "title": "Carl Cox at Privilege Ibiza - 15th July 2025",
        "datetime": {
            "start_date": "2026-09-15T23:00:00Z",
            "end_date": "2026-09-16T06:00:00Z",
            "timezone": "Europe/Madrid",
            "recurring": {"is_recurring": True, "pattern_description": "weekly"},
        },
        "venue": {
            "name": "Privilege",
            "address": {
                "street": "Urb. San Rafael",
                "city": "Ibiza",
                "full_address": "Urb. San Rafael, Ibiza",
            },
            "coordinates": {"type": "Point", "coordinates": [1.405, 38.955]},
        },
        "acts": [
            {"act_name": "Carl Cox", "act_type": "dj", "genres": ["Techno"]},
            {"act_name": "Adam Beyer", "act_type": "dj", "genres": ["Techno"]},
            {"act_name": "ANNA", "act_type": "dj", "genres": []},
        ],
        "ticketing": {
            "is_free": False,
            "tickets_url": "https://tickets.example.com/e/1",
            "tiers": [
                {"tier_name": "GA", "tier_price": 60.0, "currency": "EUR"},
                {"tier_name": "VIP", "tier_price": 120.0, "currency": "EUR"},
            ],
            "age_restriction": {"minimum_age": 18},
        },
    },
    {"name": "poor_empty", "title": "Event", "acts": []},
    {"name": "missing_sections", "title": ""},
    {
        "name": "past_event",
        "title": "OLD NIGHT",
        "datetime": {"start_date": "2020-01-01T23:00:00Z", "timezone": "UTC"},
        "venue": {
            "name": "Amnesia",
            "address": {"city": "San Rafael"},
            "coordinates": {"type": "Point", "coordinates": [2.5, 40.0]},
        },
        "acts": [{"act_name": "X"}, {"act_type": "dj"}],
        "ticketing": {"is_free": True},
    },
    {
        "name": "far_future",
        "title": "future fest 2099",
        "datetime": {
            "start_date": "2099-01-01T23:00:00",
            "end_date": "2098-12-31T00:00:00",
            "timezone": "CET",
        },
        "venue": {"name": "Somewhere", "coordinates": {"type": "Point", "coordinates": [1.3]}},
        "acts": [{"act_name": "A1"}, {"act_name": "B2"}],
        "ticketing": {
            "is_free": False,
            "tickets_url": "ftp://nope",
            "tiers": [
                {"tier_name": "T", "tier_price": 600.0, "currency": "USD"},
                {"tier_name": "", "tier_price": 3.0, "currency": "EUR"},
            ],
        },
    },
    {
        "name": "cheap_tier",
        "title": "bargain night @@@@@@@@@@",
        "datetime": {"start_date": "not-a-date", "timezone": ""},
        "venue": {"name": "Pacha", "address": {"street": "Av. 8 d'Agost", "city": ""}},
        "acts": [{"act_name": "Solo Act", "genres": ["house"]}],
        "ticketing": {
            "tiers": [{"tier_name": "Early", "tier_price": 3.0, "currency": "EUR"}],
            "age_restriction": {"restriction_type": "18+"},
        },
    },
]

# (overall, field scores title/venue/datetime/acts/ticketing, flags) from the reference run
GOLDEN = {
    "good_full": (
        0.97,
        {
            "title": 0.9999999999999999,
            "venue": 1.0,
            "datetime": 1.0,
            "acts": 1.0,
            "ticketing": 0.8000000000000002,
        },
        [],
    ),
    "poor_empty": (
        0.15,
        {"title": 0.6, "venue": 0.0, "datetime": 0.0, "acts": 0.0, "ticketing": 0.0},
        [
            ("venue", "missing_venue_data"),
            ("datetime", "missing_datetime_data"),
            ("acts", "missing_acts_data"),
            ("ticketing", "missing_ticketing_data"),
        ],
    ),
    "missing_sections": (
        0.0,
        {"title": 0.0, "venue": 0.0, "datetime": 0.0, "acts": 0.0, "ticketing": 0.0},
        [
            ("title", "missing_title"),
            ("venue", "missing_venue_data"),
            ("datetime", "missing_datetime_data"),
            ("acts", "missing_acts_data"),
            ("ticketing", "missing_ticketing_data"),
        ],
    ),
    "past_event": (
        0.625,
        {
            "title": 0.7,
            "venue": 0.6000000000000001,
            "datetime": 0.6000000000000001,
            "acts": 0.7000000000000001,
            "ticketing": 0.5,
        },
        [
            ("venue", "missing_address_details"),
            ("venue", "coordinates_outside_ibiza"),
            ("datetime", "date_too_far_past"),
            ("acts", "missing_act_name_in_list"),
        ],
    ),
    "far_future": (
        0.69,
        {
            "title": 0.8999999999999999,
            "venue": 0.3,
            "datetime": 0.75,
            "acts": 0.9,
            "ticketing": 0.55,
        },
        [
            ("venue", "missing_address_details"),
            ("venue", "missing_city"),
            ("venue", "invalid_coordinates_format"),
            ("datetime", "date_too_far_future"),
            ("datetime", "end_date_before_start_date"),
            ("ticketing", "invalid_tickets_url"),
            ("ticketing", "very_high_ticket_price"),
        ],
    ),
    "cheap_tier": (
        0.485,
        {"title": 0.5, "venue": 0.4, "datetime": 0.4, "acts": 0.8, "ticketing": 0.4},
        [
            ("title", "excessive_special_chars"),
            ("venue", "missing_address_details"),
            ("venue", "missing_city"),
            ("venue", "missing_coordinates"),
            ("datetime", "invalid_start_date_format"),
            ("datetime", "missing_timezone"),
            ("ticketing", "missing_is_free_status"),
            ("ticketing", "very_low_ticket_price"),
        ],
    ),
}


@pytest.fixture(scope="module")
def scored(spark):
    df = spark.createDataFrame(FIXTURES, EVENT_SCHEMA)
    out = with_data_quality(df, NOW).select("name", F.col("data_quality").alias("dq")).collect()
    return {r["name"]: r["dq"] for r in out}


@pytest.mark.parametrize("fixture_name", list(GOLDEN))
def test_golden_overall_and_fields(scored, fixture_name):
    overall, fields, _ = GOLDEN[fixture_name]
    dq = scored[fixture_name]
    assert dq["overall_score"] == pytest.approx(overall, abs=1e-12), fixture_name
    for f, expected in fields.items():
        assert dq["field_quality_scores"][f] == pytest.approx(expected, abs=1e-12), (
            fixture_name,
            f,
        )


@pytest.mark.parametrize("fixture_name", list(GOLDEN))
def test_golden_flags(scored, fixture_name):
    _, _, expected_flags = GOLDEN[fixture_name]
    dq = scored[fixture_name]
    got = [(fl["field"], fl["issue"]) for fl in dq["validation_flags"]]
    assert got == expected_flags, fixture_name


# --- exact-value title branch tests ported from the reference suite
# (tests/unit/test_quality_scorer.py:56-171; same expected scores)
TITLE_CASES = [
    ("abc", 0.2),
    (" ഷോർട്ട് ഇവന്റ് ", 0.5),
    ("Title", 0.6),
    ("Good Event", 0.8),
    ("Event on 12/05/2024", 1.0),
    ("Festival 2025 Now", 1.0),
    ("ALL CAPS EVENT", 0.7),
    ("E@v#e$n%t ^N*a(m)e", 0.6),
    ("Carl Cox at Privilege Ibiza - 15th July 2025", 1.0),
    ("Event", 0.6),
]


def test_title_branch_values(spark):
    df = spark.createDataFrame([(t,) for t, _ in TITLE_CASES], "title string")
    rows = df.selectExpr("title", score_title_info_sql("title") + " AS s").collect()
    got = {r["title"]: r["s"]["score"] for r in rows}
    for title, expected in TITLE_CASES:
        assert got[title] == pytest.approx(expected, abs=1e-9), repr(title)


def test_quality_level_bands_and_weak_fields(spark):
    df = spark.createDataFrame(
        [(0.95,), (0.85,), (0.75,), (0.65,), (0.2,)], "overall double"
    )
    rows = df.select("overall", quality_level(F.col("overall")).alias("lvl")).collect()
    assert [r["lvl"] for r in rows] == ["Excellent", "Good", "Fair", "Poor", "Very Poor"]

    fqs = F.struct(
        F.lit(0.9).alias("title"),
        F.lit(0.5).alias("venue"),
        F.lit(0.69).alias("datetime"),
        F.lit(0.7).alias("acts"),
        F.lit(0.1).alias("ticketing"),
    )
    wf = spark.range(1).select(weak_fields(fqs).alias("wf")).first()["wf"]
    assert wf == ["venue", "datetime", "ticketing"]
