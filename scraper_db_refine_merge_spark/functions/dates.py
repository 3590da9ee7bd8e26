"""Date parsing / normalization.

The reference parses messy scraped dates three ways:
- a strptime format chain (schema_adapter_enhanced.py:108-141, F1);
- dateutil fuzzy parse with year-injection + tz-localize → UTC ISO 'Z'
  (scrapers_v2/schema_adapter.py:34-68, F2);
- day-name strip + "%d %B %Y" with a 23:00 club default
  (schema_adapter_enhanced.py:242-270, F3).

Here each is a ``coalesce`` chain of ``try_to_timestamp`` with explicit
patterns — fully codegen'd. ``dateutil_utc_iso`` is the plain-Python
dateutil parse that the F2 chain is measured against as its differential
oracle (SURVEY §7 hard-part 1; tools/gen_dates_diff.py); no query runs it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .strings import python_strip

# F1 format chain (schema_adapter_enhanced.py:114-123), strptime → JVM patterns
MULTI_FORMATS = (
    "yyyy-MM-dd'T'HH:mm:ssXXX",  # %Y-%m-%dT%H:%M:%S%z
    "yyyy-MM-dd'T'HH:mm:ssx",  # offsets without colon
    "yyyy-MM-dd'T'HH:mm:ss'Z'",  # %Y-%m-%dT%H:%M:%SZ
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
    "dd/MM/yyyy HH:mm",
    "dd-MM-yyyy HH:mm",
    "MMMM d, yyyy 'at' h:mm a",  # %B %d, %Y at %I:%M %p
    "d MMMM yyyy",  # %d %B %Y
)

# F3 club formats (schema_adapter_enhanced.py:252-257)
CLUB_FORMATS = ("d MMMM yyyy", "d MMM yyyy", "dd/MM/yyyy", "yyyy-MM-dd")

_DAY_NAME_RE = r"(?i)^(monday|tuesday|wednesday|thursday|friday|saturday|sunday)\s+"


# SURVEY F1
def parse_multi_format(c: Column, formats: tuple[str, ...] = MULTI_FORMATS) -> Column:
    """F1: first format that parses wins; NULL if none do. Edge-strip uses
    python_strip — the reference strips date_str with str.strip()
    (scrapers_v2/schema_adapter.py:42)."""
    trimmed = python_strip(c)
    return F.coalesce(*[F.try_to_timestamp(trimmed, F.lit(fmt)) for fmt in formats])


def strip_day_name(c: Column) -> Column:
    """Drop a leading weekday name ("Friday 15 July 2025" → "15 July 2025")."""
    return F.regexp_replace(c, _DAY_NAME_RE, "")


# SURVEY F3
def parse_club_date(c: Column) -> Column:
    """F3: day-name strip, date-only parse, clamp to the club-default hour
    23:00 UTC (schema_adapter_enhanced.py:263)."""
    cleaned = python_strip(strip_day_name(c))
    d = F.coalesce(*[F.try_to_timestamp(cleaned, F.lit(fmt)) for fmt in CLUB_FORMATS])
    return F.to_timestamp(F.concat(F.date_format(d, "yyyy-MM-dd"), F.lit(" 23:00:00")))


# SURVEY F4
def to_utc_iso(ts: Column) -> Column:
    """UTC ISO-8601 with 'Z' suffix — the reference's canonical string form
    (scrapers_v2/schema_adapter.py:56)."""
    return F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")


#: ordinal day suffixes ("5th July") — dateutil strips them, the JVM
#: patterns can't express them, so the chain strips before parsing
_ORDINAL_RE = r"(?i)\b(\d{1,2})(st|nd|rd|th)\b"

# r14 (VERDICT r13 item 8): the F2 fallback-domain differential
# (tools/gen_dates_diff.py / tests/test_dates_differential.py) measured
# where the native chain diverges from the reference's dateutil parse on
# messy real-world strings, and the chain was extended where cheap:
# month-name + comma forms, 'at h:mm a' / adjacent-am-pm times, d-MMM-yyyy,
# yyyy/MM/dd, dotted and dashed numeric forms (DAY-FIRST — see below),
# compact yyyyMMdd, and ordinal-suffix days. The REMAINING documented
# divergence domain:
#  - ambiguous numeric dates (05/07/2025, 5.7.2025, 05-07-2025): the chain
#    keeps the reference's European day-first convention
#    (schema_adapter_enhanced.py:114-123 tries %d/%m first); dateutil
#    defaults month-first — an intentional, locale-correct divergence;
#  - yearless strings ("5 July"): dateutil injects ITS wall-clock year;
#    the chain parses none — deterministic by design;
#  - the true fuzzy tail ("next friday", embedded dates in prose): only
#    dateutil parses it; dateutil_utc_iso below is the differential oracle
#    that measures this domain, not a runtime fallback.
_FUZZY_EXTRA_FORMATS = (
    "d MMMM yyyy HH:mm",
    "MMMM d yyyy",
    "d MMM yyyy",
    "d MMMM yyyy",
    "MMMM d, yyyy 'at' h:mm a",
    "MMMM d, yyyy",
    "MMM d, yyyy",
    "MMM d yyyy h:mma",
    "MMM d yyyy",
    "d-MMM-yyyy",
    "dd-MM-yyyy HH:mm",  # day-first, the reference's locale
    "d-M-yyyy",
    "d.M.yyyy",  # day-first, the reference's locale
    "yyyy/MM/dd",
    "yyyyMMdd",
)


# SURVEY F2
def parse_fuzzy_to_utc_iso(c: Column) -> Column:
    """F2: format-chain parse (naive treated as UTC wall clock) → UTC ISO
    'Z'. The declared-offset formats are absolute. Unlike the reference it
    injects no page-context year and localizes to no venue zone: no
    caller has either. Divergence from the reference's dateutil parse is
    measured and documented at :data:`_FUZZY_EXTRA_FORMATS`."""
    s = python_strip(strip_day_name(c))
    s = F.regexp_replace(s, _ORDINAL_RE, "$1")
    absolute = F.coalesce(
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd'T'HH:mm:ssx")),
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'")),
    )
    naive = F.coalesce(
        *[
            F.try_to_timestamp(s, F.lit(fmt))
            for fmt in (
                "yyyy-MM-dd HH:mm:ss",
                "yyyy-MM-dd HH:mm",
                "yyyy-MM-dd",
                "dd/MM/yyyy HH:mm",
                "dd/MM/yyyy",
                *_FUZZY_EXTRA_FORMATS,
            )
        ]
    )
    return to_utc_iso(F.coalesce(absolute, naive))


def dateutil_utc_iso(s: str | None) -> str | None:
    """The reference's dateutil fuzzy parse → UTC ISO 'Z' (or None; naive
    times read as UTC), as a plain Python function: the differential oracle
    that tools/gen_dates_diff.py and tests/test_dates_differential.py
    measure ``parse_fuzzy_to_utc_iso`` against."""
    if not s or not isinstance(s, str):
        return None
    try:
        from datetime import timezone as _tz

        from dateutil import parser as dateutil_parser

        dt = dateutil_parser.parse(s.strip())
        if dt.tzinfo is None or dt.tzinfo.utcoffset(dt) is None:
            dt = dt.replace(tzinfo=_tz.utc)
        return dt.astimezone(_tz.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
    except Exception:  # noqa: BLE001
        return None
