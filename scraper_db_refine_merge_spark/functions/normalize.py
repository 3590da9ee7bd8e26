"""Dictionary normalizations — venue names, genres,
timezone-from-location.

Small literal maps become ``create_map`` lookups (broadcast-free: the map is
a literal inside the expression, shipped with the task binary).
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import Column
from pyspark.sql import functions as F

# schema_adapter_enhanced.py:272-288
VENUE_MAP = {
    "hi ibiza": "Hï Ibiza",
    "hi": "Hï Ibiza",
    "ushuaia": "Ushuaïa",
    "pacha": "Pacha",
    "amnesia": "Amnesia",
    "dc10": "DC10",
    "dc-10": "DC10",
    "privilege": "Privilege",
    "eden": "Eden",
    "es paradis": "Es Paradis",
}

# schema_adapter_enhanced.py:343-361
GENRE_MAP = {
    "techno": "Techno",
    "tech-house": "Tech House",
    "tech house": "Tech House",
    "house": "House",
    "deep house": "Deep House",
    "deep-house": "Deep House",
    "progressive": "Progressive House",
    "progressive house": "Progressive House",
    "trance": "Trance",
    "melodic techno": "Melodic Techno",
    "melodic-techno": "Melodic Techno",
    "minimal": "Minimal",
    "drum & bass": "Drum & Bass",
    "dnb": "Drum & Bass",
    "d&b": "Drum & Bass",
}

# schema_adapter_enhanced.py:363-373 (insertion order is match priority)
TIMEZONE_MAP = {
    "ibiza": "Europe/Madrid",
    "london": "Europe/London",
    "berlin": "Europe/Berlin",
    "new york": "America/New_York",
    "los angeles": "America/Los_Angeles",
    "tokyo": "Asia/Tokyo",
    "sydney": "Australia/Sydney",
}


def _literal_map(d: dict[str, str]) -> Column:
    return F.create_map(*[F.lit(x) for x in chain.from_iterable(d.items())])


# word boundaries for Python str.title(): transitions between CASED and
# non-cased characters. CPython's do_title tracks previous_is_cased =
# ISLOWER|ISUPPER|ISTITLE — i.e. the Lowercase/Uppercase binary properties
# plus category Lt — NOT "is a letter": uncased letters (Lo scripts like
# Telugu 'ఈ', Lm modifiers) delimit words, so 'ఈa'.title() == 'ఈA'.
# (Java's binary Uppercase/Lowercase regex properties agree with CPython's
# cased set, including Other_Uppercase symbols like 🅐 — verified by the
# full-codepoint differential probe in tests/test_properties.py.)
_CASED = r"\p{IsLowercase}\p{IsUppercase}\p{Lt}"
# Alternating cased / non-cased RUNS, matched FORWARD. The former
# implementation split on zero-width lookaround edges, but Java regex
# lookbehind steps back one UTF-16 code UNIT, so after a supplementary
# cased char (🅐, Deseret 𐐀, math-alphanumeric 𝐀) it inspected a lone low
# surrogate, classified it non-cased, and split a spurious word boundary
# ('🅐A' → '🅐' + 'A' → title left 'A' uppercase where CPython lowercases
# it). Forward run-extraction matches whole code points — no lookbehind.
_CASED_RUNS = rf"[{_CASED}]+|[^{_CASED}]+"


def _title_case(c: Column) -> Column:
    """Python ``str.title()`` faithful: every cased-run becomes
    upper(first) + lower(rest); non-cased chars (punctuation, digits, AND
    uncased letters) pass through and delimit words, so "drum&bass" →
    "Drum&Bass", "don't" → "Don'T", "ఈa" → "ఈA" — all exactly as CPython.
    (Known divergence: one-to-many case maps — Java upper('ß') = 'SS' where
    Python titlecases to 'Ss'.)"""
    parts = F.regexp_extract_all(c, F.lit(_CASED_RUNS), 0)
    return F.array_join(
        F.transform(
            parts,
            lambda x: F.when(
                x.rlike(rf"^[{_CASED}]"),
                F.concat(
                    F.upper(F.substring(x, 1, 1)), F.lower(F.substring(x, 2, 2147483647))
                ),
            ).otherwise(x),
        ),
        "",
    )


# SURVEY F15
def normalize_venue_name(venue: Column) -> Column:
    """Lowercase-key lookup, identity fallback (F15). Key uses python_strip:
    the reference keys with str.strip(), so 'pacha\\t' must hit the map."""
    from .strings import python_strip

    return F.coalesce(
        F.element_at(_literal_map(VENUE_MAP), F.lower(python_strip(venue))), venue
    )


# SURVEY F16
def normalize_genres(genres: Column) -> Column:
    """Elementwise genre normalization over an array (HOF, no explode)."""
    from .strings import python_strip

    m = _literal_map(GENRE_MAP)
    return F.transform(
        genres,
        lambda g: F.coalesce(F.element_at(m, F.lower(python_strip(g))), _title_case(g)),
    )


# SURVEY F17
def timezone_from_location(location: Column) -> Column:
    """City-substring → IANA tz, default UTC (F17)."""
    loc = F.lower(F.coalesce(location, F.lit("")))
    expr = F.lit("UTC")
    for city, tz in reversed(list(TIMEZONE_MAP.items())):
        expr = F.when(loc.contains(city), tz).otherwise(expr)
    return expr
