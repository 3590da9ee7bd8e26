"""Date parsing / normalization (SURVEY F1-F8).

The reference parses messy scraped dates three ways:
- a strptime format chain (schema_adapter_enhanced.py:108-141, F1);
- dateutil fuzzy parse with year-injection + tz-localize → UTC ISO 'Z'
  (scrapers_v2/schema_adapter.py:34-68, F2);
- day-name strip + "%d %B %Y" with a 23:00 club default
  (schema_adapter_enhanced.py:242-270, F3).

Here each is a ``coalesce`` chain of ``try_to_timestamp`` with explicit
patterns — fully codegen'd. A small dateutil fallback UDF is provided as the
*compatibility oracle* for the messy tail (SURVEY §7 hard-part 1); it is off
the hot path and only invoked for rows the format chain could not parse.
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


def parse_multi_format(c: Column, formats: tuple[str, ...] = MULTI_FORMATS) -> Column:
    """F1: first format that parses wins; NULL if none do. Edge-strip uses
    python_strip — the reference strips date_str with str.strip()
    (scrapers_v2/schema_adapter.py:42)."""
    trimmed = python_strip(c)
    return F.coalesce(*[F.try_to_timestamp(trimmed, F.lit(fmt)) for fmt in formats])


def strip_day_name(c: Column) -> Column:
    """Drop a leading weekday name ("Friday 15 July 2025" → "15 July 2025")."""
    return F.regexp_replace(c, _DAY_NAME_RE, "")


def parse_club_date(c: Column, default_hour: int = 23) -> Column:
    """F3: day-name strip, date-only parse, clamp to the club-default hour UTC
    (schema_adapter_enhanced.py:263 sets 23:00)."""
    cleaned = python_strip(strip_day_name(c))
    d = F.coalesce(*[F.try_to_timestamp(cleaned, F.lit(fmt)) for fmt in CLUB_FORMATS])
    return F.to_timestamp(
        F.concat(F.date_format(d, "yyyy-MM-dd"), F.lit(f" {default_hour:02d}:00:00"))
    )


def inject_year(c: Column, year: Column | int) -> Column:
    """F2 year-injection: append the page-context year when the string has no
    4-digit year (scrapers_v2/schema_adapter.py:47-48)."""
    y = F.lit(year) if isinstance(year, int) else year
    # \b\d{4}\b can't see the year inside a compact yyyyMMdd run (digit-
    # digit positions are not word boundaries), and appending a year there
    # would break the r14 'yyyyMMdd' format — treat a bare 8-digit run as
    # already carrying its year.
    has_year = c.rlike(r"\b\d{4}\b") | c.rlike(r"^\s*\d{8}\s*$")
    return F.when(c.isNull() | has_year, c).otherwise(F.concat(c, F.lit(" "), y.cast("string")))


def localize_to_utc(ts: Column, tz: Column | str) -> Column:
    """Interpret a naive timestamp as wall-clock in ``tz`` and convert to UTC
    (pytz localize + astimezone(utc) equivalent)."""
    tz_col = F.lit(tz) if isinstance(tz, str) else tz
    return F.to_utc_timestamp(ts, tz_col)


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
#    the chain only injects a year the caller supplies (current_year) —
#    deterministic by design;
#  - the true fuzzy tail ("next friday", embedded dates in prose):
#    dateutil_fallback_udf below remains the compatibility oracle.
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


def parse_fuzzy_to_utc_iso(
    c: Column,
    default_tz: str = "UTC",
    current_year: Column | int | None = None,
    extra_formats: tuple[str, ...] = _FUZZY_EXTRA_FORMATS,
) -> Column:
    """F2: year-injection → format-chain parse (naive treated as ``default_tz``
    wall clock) → UTC ISO 'Z'. The declared-offset formats are absolute and
    bypass localization. Divergence from the reference's dateutil parse is
    measured and documented at :data:`_FUZZY_EXTRA_FORMATS`."""
    s = python_strip(strip_day_name(c))
    s = F.regexp_replace(s, _ORDINAL_RE, "$1")
    s = inject_year(s, current_year) if current_year is not None else s
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
                *extra_formats,
            )
        ]
    )
    ts = F.coalesce(absolute, localize_to_utc(naive, default_tz))
    return to_utc_iso(ts)


def dateutil_utc_iso(s: str | None, default_tz: str = "UTC") -> str | None:
    """The reference's dateutil fuzzy parse → UTC ISO 'Z' (or None), as a
    plain Python function — the ONE implementation behind both the
    fallback UDF and the driver-side differential (tools/gen_dates_diff.py,
    tests/test_dates_differential.py), so the committed divergence-domain
    artifacts can never measure a stale copy of the UDF's logic."""
    if not s or not isinstance(s, str):
        return None
    try:
        from datetime import timezone as _tz
        from zoneinfo import ZoneInfo

        from dateutil import parser as dateutil_parser

        dt = dateutil_parser.parse(s.strip())
        if dt.tzinfo is None or dt.tzinfo.utcoffset(dt) is None:
            dt = dt.replace(tzinfo=ZoneInfo(default_tz))
        return dt.astimezone(_tz.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
    except Exception:  # noqa: BLE001
        return None


def dateutil_fallback_udf():
    """Compatibility-oracle UDF over dateutil for strings the format chain
    cannot parse. Returns UTC ISO 'Z' or None. Import-gated; keep off the
    hot path (apply only where the native chain yielded NULL)."""
    from pyspark.sql.functions import udf
    from pyspark.sql.types import StringType

    return udf(dateutil_utc_iso, StringType())
