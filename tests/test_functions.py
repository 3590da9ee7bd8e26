"""Unit tests for refine scalar functions (SURVEY F1-F25, J1/J2)."""

from __future__ import annotations

import re
import uuid

import pytest
from pyspark.sql import functions as F

from scraper_db_refine_merge_spark.functions.dates import (
    inject_year,
    parse_club_date,
    parse_fuzzy_to_utc_iso,
    parse_multi_format,
    strip_day_name,
)
from scraper_db_refine_merge_spark.functions.ids import composite_event_id, generate_unique_id
from scraper_db_refine_merge_spark.functions.normalize import (
    normalize_genres,
    normalize_venue_name,
    timezone_from_location,
)
from scraper_db_refine_merge_spark.functions.strings import (
    confidence_score,
    extract_price,
    html_unescape,
    normalize_url,
    normalize_whitespace,
    snippet,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


# ---------------------------------------------------------------- J1 uuid5 parity
def ref_generate_unique_id(prefix: str, identifier: str) -> str:
    """Reference semantics (schema_adapter_enhanced.py:424-427)."""
    clean_id = re.sub(r"[^a-zA-Z0-9_-]", "_", identifier.lower())
    return f"{prefix}_{clean_id}_{uuid.uuid5(uuid.NAMESPACE_DNS, f'{prefix}:{identifier}').hex[:8]}"


@pytest.mark.parametrize(
    "prefix,identifier",
    [
        ("ibiza-spotlight", "Glitterbox_2025-05-25"),
        ("venue", "Hï Ibiza"),
        ("artist", "Charlotte de Witte"),
        ("venue", "DC-10 (terrace) & más!"),
    ],
)
def test_generate_unique_id_uuid5_parity(spark, prefix, identifier):
    got = _one(spark, generate_unique_id(prefix, F.lit(identifier)))
    assert got == ref_generate_unique_id(prefix, identifier)


def test_composite_event_id_sha256(spark):
    import hashlib

    fields = ["Glitterbox", "2025-05-25", None, "ibiza-spotlight.com"]
    expected = hashlib.sha256(
        "|".join(str(f).lower().strip() if f is not None else "none" for f in fields).encode()
    ).hexdigest()
    got = _one(
        spark,
        composite_event_id(
            F.lit("Glitterbox"),
            F.lit("2025-05-25"),
            F.lit(None).cast("string"),
            F.lit("ibiza-spotlight.com"),
        ),
    )
    assert got == expected


def test_composite_event_id_strips_all_whitespace(spark):
    """Python str.strip() removes tab/newline, SQL TRIM doesn't — fields
    edged with non-space whitespace must hash like the reference."""
    import hashlib

    fields = ["\tGlitterbox \n", "2025-05-25", " DC-10\x0b", "ibiza-spotlight.com"]
    expected = hashlib.sha256(
        "|".join(str(f).lower().strip() for f in fields).encode()
    ).hexdigest()
    got = _one(spark, composite_event_id(*[F.lit(f) for f in fields]))
    assert got == expected


# ---------------------------------------------------------------- F1-F3 dates
def test_parse_multi_format(spark):
    cases = {
        "2025-07-15T23:00:00+02:00": "2025-07-15 21:00:00",
        "2025-07-15T23:00:00Z": "2025-07-15 23:00:00",
        "2025-07-15 23:00:00": "2025-07-15 23:00:00",
        "2025-07-15": "2025-07-15 00:00:00",
        "15/07/2025 23:00": "2025-07-15 23:00:00",
        "15 July 2025": "2025-07-15 00:00:00",
    }
    df = spark.createDataFrame([(s,) for s in cases], "s string")
    rows = df.select("s", F.date_format(parse_multi_format(F.col("s")), "yyyy-MM-dd HH:mm:ss").alias("p")).collect()
    for r in rows:
        assert r["p"] == cases[r["s"]], r["s"]


def test_strip_day_and_club_default(spark):
    got = _one(
        spark,
        F.date_format(parse_club_date(F.lit("Friday 15 July 2025")), "yyyy-MM-dd HH:mm"),
    )
    assert got == "2025-07-15 23:00"
    assert _one(spark, strip_day_name(F.lit("Sunday 1 June 2025"))) == "1 June 2025"


def test_inject_year_and_fuzzy(spark):
    assert _one(spark, inject_year(F.lit("Sat 31 May"), 2025)) == "Sat 31 May 2025"
    assert _one(spark, inject_year(F.lit("31 May 2024"), 2025)) == "31 May 2024"
    got = _one(
        spark,
        parse_fuzzy_to_utc_iso(F.lit("2024-08-15T18:00:00+02:00"), default_tz="Europe/Madrid"),
    )
    assert got == "2024-08-15T16:00:00Z"
    got2 = _one(
        spark, parse_fuzzy_to_utc_iso(F.lit("2024-08-15 18:00"), default_tz="Europe/Madrid")
    )
    assert got2 == "2024-08-15T16:00:00Z"


# ---------------------------------------------------------------- F9 price
PRICE_CASES = [
    ("From €50.00 - Tickets available", 50.0, "EUR"),
    ("60€", 60.0, "EUR"),
    ("free entry", 0.0, "EUR"),
    ("Gratis!", 0.0, "EUR"),
    ("$25.50", 25.5, "USD"),
    ("25 GBP", 25.0, "GBP"),
    ("12,50 €", 12.5, "EUR"),
    ("tickets from 20", 20.0, "EUR"),
    ("no price here", None, None),
]


def test_extract_price(spark):
    df = spark.createDataFrame([(t,) for t, _, _ in PRICE_CASES], "t string")
    rows = df.select("t", extract_price(F.col("t")).alias("p")).collect()
    got = {r["t"]: (r["p"]["amount"], r["p"]["currency"]) for r in rows}
    for t, amount, currency in PRICE_CASES:
        assert got[t] == (amount, currency), t


# ---------------------------------------------------------------- F11-F13, F23, F25
def test_string_helpers(spark):
    assert _one(spark, normalize_whitespace(F.lit("  a \n\n b  "))) == "a b"
    assert _one(spark, normalize_whitespace(F.lit("   "))) is None
    assert _one(spark, html_unescape(F.lit("Tom &amp; Jerry &lt;3"))) == "Tom & Jerry <3"
    assert _one(spark, normalize_url(F.lit("www.ibiza-spotlight.com/event/12345"))) == (
        "https://www.ibiza-spotlight.com/event/12345"
    )
    assert _one(spark, normalize_url(F.lit("https://ok.example.com/x"))) == "https://ok.example.com/x"
    assert _one(spark, normalize_url(F.lit("not a url"))) is None
    assert _one(spark, snippet(F.lit("x" * 200), 150)) == "x" * 150 + "..."
    assert _one(spark, snippet(F.lit("short"), 150)) == "short"
    assert _one(spark, confidence_score(F.lit(1), F.lit(1), F.lit(1))) == pytest.approx(
        0.7 * 0.9 * 0.95
    )


# ---------------------------------------------------------------- F15-F17 maps
def test_normalizations(spark):
    assert _one(spark, normalize_venue_name(F.lit("dc-10"))) == "DC10"
    assert _one(spark, normalize_venue_name(F.lit("hi ibiza"))) == "Hï Ibiza"
    assert _one(spark, normalize_venue_name(F.lit("Las Dalias"))) == "Las Dalias"
    assert _one(spark, normalize_genres(F.array(F.lit("tech house")))) == ["Tech House"]
    assert _one(spark, normalize_genres(F.array(F.lit("dnb")))) == ["Drum & Bass"]
    assert _one(spark, normalize_genres(F.array(F.lit("melodic-techno")))) == ["Melodic Techno"]
    assert _one(spark, normalize_genres(F.array(F.lit("ambient dub")))) == ["Ambient Dub"]
    assert _one(spark, timezone_from_location(F.lit("Hï Ibiza, Ibiza"))) == "Europe/Madrid"
    assert _one(spark, timezone_from_location(F.lit("Fabric, LONDON"))) == "Europe/London"
    assert _one(spark, timezone_from_location(F.lit("nowhere"))) == "UTC"
    assert _one(spark, timezone_from_location(F.lit(None).cast("string"))) == "UTC"
