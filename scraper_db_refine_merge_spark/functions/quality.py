"""Quality scoring engine as Spark SQL expressions
(SURVEY D1/D2, D6, A10, A13, F18, F21).

Re-implements the reference's QualityScorer (database/quality_scorer.py:15-452)
branch-for-branch as JVM-side expressions — no UDFs — so scoring 10^9 events
is a single codegen'd projection.

§2 coverage in this module: A10 (weighted overall average), A13 (array_min
over available tiers), F6 (date sanity windows), F18 (title heuristics),
F21 (rounding), R1 (per-element acts scoring via HOFs), R2 (tier validity
proportion + cheapest + currency), R3 (validation-flag flattening).

Each ``score_*_info_sql`` returns the SQL text of a
``struct(score double, flags array<string>)`` expression, so a caller builds
a whole scoring stage as one ``selectExpr``: one JVM parse instead of the
thousands of py4j round trips a Column-builder tree costs (~300 ms per
scorer). ``with_data_quality`` composes the five into the schema's
``data_quality`` shape (quality_scorer.py:79-91).

Conventions:
- a scorer input is a SQL expression string and MUST be an attribute leaf
  (a projected column name), never a constructor tree: the input is spliced
  at every place the scorer reads it, so a tree re-inlines at each use —
  the Catalyst-analysis blowup (q53/q54, ROADMAP gotchas);
- doubles carry the D suffix (a bare 0.5 is DECIMAL(1,1) in Spark SQL);
- regex literals double their backslashes (Spark SQL strings are
  backslash-escaped).

Bit-parity notes:
- additions accumulate in the same order as the reference's ``score += ...``
  statements, so float results are identical;
- the overall score uses ``python_round_sql`` (binary-value nearest with
  exact ties-to-even) — neither Spark ``round`` nor ``bround`` matches
  Python's ``round(x, 3)`` on all doubles;
- "empty section" (Python falsy dict) maps to a NULL struct; arrays count as
  missing when NULL or empty, mirroring ``not acts_data``.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .strings import _PY_WS, _PY_WS_CHARS

FIELD_WEIGHTS = {  # quality_scorer.py:21-27
    "title": 0.25,
    "venue": 0.20,
    "datetime": 0.25,
    "acts": 0.15,
    "ticketing": 0.15,
}

KNOWN_VENUES = ["Hï Ibiza", "Ushuaïa", "Pacha", "Amnesia", "DC10", "Privilege"]


def truthy_sql(c: str) -> str:
    """Python string truthiness: non-null and non-empty."""
    return f"({c} IS NOT NULL AND {c} != '')"


def timestamp_sql(dt: datetime) -> str:
    """Naive TIMESTAMP literal, read in the pinned-UTC session time zone."""
    return f"TIMESTAMP '{dt.replace(tzinfo=None):%Y-%m-%d %H:%M:%S.%f}'"


def _flag_s(cond: str, name: str) -> str:
    """Conditional single-element flag array."""
    return f"(CASE WHEN {cond} THEN array('{name}') ELSE CAST(array() AS ARRAY<STRING>) END)"


def _re_s(pattern: str) -> str:
    """Regex → Spark SQL string literal body (backslashes doubled)."""
    return pattern.replace("\\", "\\\\")


def _score_struct_s(missing_cond: str, missing_flag: str, score: str, flags: str) -> str:
    return (
        f"(CASE WHEN {missing_cond}"
        f" THEN named_struct('score', 0.0D, 'flags', array('{missing_flag}'))"
        f" ELSE named_struct('score', least({score}, 1.0D), 'flags', {flags}) END)"
    )


# ----------------------------------------------------------------------
# Title (quality_scorer.py:93-139)


# Python whitespace runs, edge runs, and the non-special title characters,
# as Spark SQL regex literal bodies
_WS_RUN_RE = _re_s(f"{_PY_WS}+")
_WS_EDGE_RE = _re_s(f"^{_PY_WS}+|{_PY_WS}+$")
_NOT_SPECIAL_RE = _re_s(f"[a-zA-Z0-9&\\-{_PY_WS_CHARS}]")


def _title_words_sql(t: str) -> str:
    """Reference ``len(title.split())``: Python's no-arg split strips the
    edges and splits on the FULL Python whitespace set. Java split over a
    \\s+ pattern keeps a leading empty element ('\\tword' would count 2),
    so strip on the python_strip class first and split on the same class."""
    stripped = f"regexp_replace({t}, '{_WS_EDGE_RE}', '')"
    return f"(CASE WHEN {stripped} = '' THEN 0 ELSE size(split({stripped}, '{_WS_RUN_RE}')) END)"


def _title_specials_sql(t: str) -> str:
    """Reference ``len(re.findall(r'[^a-zA-Z0-9\\s\\-&]', title))`` — Python
    \\s again."""
    return f"length(regexp_replace({t}, '{_NOT_SPECIAL_RE}', ''))"


def score_title_info_sql(t: str) -> str:
    date_re = _re_s(r"\d{1,2}[/-]\d{1,2}[/-]\d{2,4}|\d{4}")
    missing = f"({t} IS NULL OR {t} = '')"
    length = f"length({t})"
    len_ok = f"({length} >= 5)"
    has_date = f"({t} RLIKE '{date_re}')"
    multi_word = f"({_title_words_sql(t)} >= 2)"
    special_ok = f"(({_title_specials_sql(t)} / {length}) < 0.2D)"
    first = f"substring({t}, 1, 1)"
    first_upper = f"({first} = upper({first}) AND {first} != lower({first}))"
    all_upper = f"({t} = upper({t}) AND {t} != lower({t}))"
    cap_ok = f"({first_upper} AND NOT {all_upper})"
    score = (
        f"(CASE WHEN {len_ok} THEN 0.3D ELSE 0.0D END"
        f" + CASE WHEN {has_date} THEN 0.2D ELSE 0.0D END"
        f" + CASE WHEN {multi_word} THEN 0.2D ELSE 0.0D END"
        f" + CASE WHEN {special_ok} THEN 0.2D ELSE 0.0D END"
        f" + CASE WHEN {cap_ok} THEN 0.1D ELSE 0.0D END)"
    )
    flags = (
        f"concat({_flag_s(f'NOT {len_ok}', 'title_too_short')},"
        f" {_flag_s(f'NOT {special_ok}', 'excessive_special_chars')})"
    )
    return _score_struct_s(missing, "missing_title", score, flags)


# ----------------------------------------------------------------------
# Venue (quality_scorer.py:141-191)


def score_venue_info_sql(v: str) -> str:
    name = f"{v}.name"
    known = (
        "coalesce(array_contains(array("
        + ", ".join(f"contains({name}, '{kv}')" for kv in KNOWN_VENUES)
        + "), true), false)"
    )
    has_name = truthy_sql(name)
    has_full_addr = truthy_sql(f"{v}.address.full_address")
    has_street_city = f"({truthy_sql(f'{v}.address.street')} AND {truthy_sql(f'{v}.address.city')})"
    has_city = truthy_sql(f"{v}.address.city")
    city_ibiza = f"coalesce(contains(lower({v}.address.city), 'ibiza'), false)"
    arr = f"{v}.coordinates.coordinates"
    coords_present = (
        f"(coalesce({v}.coordinates.type = 'Point', false)"
        f" AND {arr} IS NOT NULL AND size({arr}) > 0)"
    )
    coords_len2 = f"(size({arr}) = 2)"
    in_ibiza = (
        f"coalesce((get({arr}, 0) >= 1.2D AND get({arr}, 0) <= 1.6D"
        f" AND get({arr}, 1) >= 38.8D AND get({arr}, 1) <= 39.1D), false)"
    )
    score = (
        f"(CASE WHEN {has_name} THEN 0.3D ELSE 0.0D END"
        f" + CASE WHEN ({has_name} AND {known}) THEN 0.1D ELSE 0.0D END"
        f" + CASE WHEN {has_full_addr} THEN 0.2D WHEN {has_street_city} THEN 0.15D ELSE 0.0D END"
        f" + CASE WHEN {has_city} THEN 0.2D ELSE 0.0D END"
        f" + CASE WHEN ({has_city} AND {city_ibiza}) THEN 0.1D ELSE 0.0D END"
        f" + CASE WHEN ({coords_present} AND {coords_len2} AND {in_ibiza}) THEN 0.2D ELSE 0.0D END)"
    )
    flags = (
        f"concat({_flag_s(f'NOT {has_name}', 'missing_venue_name')},"
        f" {_flag_s(f'NOT ({has_full_addr} OR {has_street_city})', 'missing_address_details')},"
        f" {_flag_s(f'NOT {has_city}', 'missing_city')},"
        f" {_flag_s(f'({coords_present} AND {coords_len2} AND NOT {in_ibiza})', 'coordinates_outside_ibiza')},"
        f" {_flag_s(f'({coords_present} AND NOT {coords_len2})', 'invalid_coordinates_format')},"
        f" {_flag_s(f'NOT {coords_present}', 'missing_coordinates')})"
    )
    return _score_struct_s(f"{v} IS NULL", "missing_venue_data", score, flags)


# ----------------------------------------------------------------------
# Datetime (quality_scorer.py:193-266)


# SURVEY F6/F8
def score_datetime_info_sql(d: str, now: datetime) -> str:
    past_cutoff = timestamp_sql(now - timedelta(days=30))
    future_cutoff = timestamp_sql(now + timedelta(days=2 * 365))
    s = f"{d}.start_date"
    e = f"{d}.end_date"
    has_start = truthy_sql(s)
    start_ts = f"try_to_timestamp({s})"
    start_valid = f"({start_ts} IS NOT NULL)"
    too_past = f"({start_ts} < {past_cutoff})"
    too_future = f"({start_ts} > {future_cutoff})"
    reasonable = f"({start_valid} AND NOT {too_past} AND NOT {too_future})"
    has_end = truthy_sql(e)
    end_ts = f"try_to_timestamp({e})"
    end_valid = f"({end_ts} IS NOT NULL)"
    end_before_start = f"({end_valid} AND {start_valid} AND ({end_ts} < {start_ts}))"
    end_ok = f"({end_valid} AND {start_valid} AND ({end_ts} >= {start_ts}))"
    tz = f"{d}.timezone"
    has_tz = truthy_sql(tz)
    tz_bonus = f"coalesce({tz} IN ('Europe/Madrid', 'CET', 'CEST'), false)"
    is_rec = f"coalesce({d}.recurring.is_recurring, false)"
    has_pattern = truthy_sql(f"{d}.recurring.pattern_description")
    score = (
        f"(CASE WHEN {has_start} THEN 0.4D ELSE 0.0D END"
        f" + CASE WHEN ({has_start} AND {reasonable}) THEN 0.1D ELSE 0.0D END"
        f" + CASE WHEN {has_end} THEN 0.1D ELSE 0.0D END"
        f" + CASE WHEN ({has_end} AND {has_start} AND {end_ok}) THEN 0.05D ELSE 0.0D END"
        f" + CASE WHEN {has_tz} THEN 0.2D ELSE 0.0D END"
        f" + CASE WHEN ({has_tz} AND {tz_bonus}) THEN 0.05D ELSE 0.0D END"
        f" + CASE WHEN {is_rec} THEN 0.05D ELSE 0.0D END"
        f" + CASE WHEN ({is_rec} AND {has_pattern}) THEN 0.1D ELSE 0.0D END)"
    )
    flags = (
        f"concat({_flag_s(f'({has_start} AND {start_valid} AND {too_past})', 'date_too_far_past')},"
        f" {_flag_s(f'({has_start} AND {start_valid} AND NOT {too_past} AND {too_future})', 'date_too_far_future')},"
        f" {_flag_s(f'({has_start} AND NOT {start_valid})', 'invalid_start_date_format')},"
        f" {_flag_s(f'NOT {has_start}', 'missing_start_date')},"
        f" {_flag_s(f'({has_end} AND {has_start} AND {end_before_start})', 'end_date_before_start_date')},"
        f" {_flag_s(f'({has_end} AND {has_start} AND NOT {end_valid})', 'invalid_end_date_format')},"
        f" {_flag_s(f'NOT {has_tz}', 'missing_timezone')},"
        f" {_flag_s(f'({is_rec} AND NOT {has_pattern})', 'missing_recurring_pattern_description')})"
    )
    return _score_struct_s(f"{d} IS NULL", "missing_datetime_data", score, flags)


# ----------------------------------------------------------------------
# Acts (quality_scorer.py:268-318)


# SURVEY R1
def score_acts_info_sql(a: str) -> str:
    missing = f"({a} IS NULL OR size({a}) = 0)"
    n = f"size({a})"
    truthy_name = truthy_sql("x.act_name")
    valid = f"size(filter({a}, x -> {truthy_name}))"
    nameless_flags = (
        f"transform(filter({a}, x -> NOT {truthy_name}),"
        " x -> 'missing_act_name_in_list')"
    )
    score = (
        f"(0.4D"
        f" + CASE WHEN ({valid} > 0) THEN 0.4D * ({valid} / {n}) ELSE 0.0D END"
        f" + CASE WHEN ({n} >= 3) THEN 0.2D WHEN ({n} >= 2) THEN 0.1D ELSE 0.0D END)"
    )
    return _score_struct_s(missing, "missing_acts_data", score, nameless_flags)


# ----------------------------------------------------------------------
# Ticketing (quality_scorer.py:320-388)


# SURVEY R2
def score_ticketing_info_sql(t: str) -> str:
    is_free = f"{t}.is_free"
    free_true = f"coalesce({is_free} = true, false)"
    free_false = f"coalesce({is_free} = false, false)"
    free_missing = f"({is_free} IS NULL)"
    url = f"{t}.tickets_url"
    has_url = truthy_sql(url)
    url_ok = f"(startswith({url}, 'http://') OR startswith({url}, 'https://'))"
    tiers = f"{t}.tiers"
    has_tiers = f"({tiers} IS NOT NULL AND size({tiers}) > 0)"
    n_tiers = f"size({tiers})"
    tier_valid = (
        f"({truthy_sql('x.tier_name')} AND x.tier_price IS NOT NULL"
        f" AND {truthy_sql('x.currency')})"
    )
    valid_arr = f"filter({tiers}, x -> {tier_valid})"
    n_valid = f"size({valid_arr})"
    cheapest = f"array_min(transform({valid_arr}, x -> x.tier_price))"
    currency_found = f"try_element_at({valid_arr}, 1).currency"
    age = f"{t}.age_restriction"
    has_age = (
        f"coalesce(({age}.minimum_age IS NOT NULL"
        f" OR {truthy_sql(f'{age}.restriction_type')}), false)"
    )
    score = (
        f"(CASE WHEN {free_true} THEN 0.5D WHEN {free_false} THEN 0.1D ELSE 0.0D END"
        f" + CASE WHEN {has_url} THEN 0.2D ELSE 0.0D END"
        f" + CASE WHEN ({has_url} AND {url_ok}) THEN 0.05D ELSE 0.0D END"
        f" + CASE WHEN {has_tiers} THEN 0.2D ELSE 0.0D END"
        f" + CASE WHEN ({has_tiers} AND {n_valid} > 0) THEN 0.1D * ({n_valid} / {n_tiers}) ELSE 0.0D END"
        f" + CASE WHEN ({has_tiers} AND {n_valid} > 0 AND {currency_found} = 'EUR') THEN 0.05D ELSE 0.0D END"
        f" + CASE WHEN ({has_tiers} AND {n_valid} > 0 AND {cheapest} >= 5 AND {cheapest} <= 500) THEN 0.05D ELSE 0.0D END"
        f" + CASE WHEN {has_age} THEN 0.05D ELSE 0.0D END)"
    )
    flags = (
        f"concat({_flag_s(free_missing, 'missing_is_free_status')},"
        f" {_flag_s(f'({has_url} AND NOT {url_ok})', 'invalid_tickets_url')},"
        f" {_flag_s(f'(NOT {has_url} AND {free_false})', 'missing_tickets_url_for_paid_event')},"
        f" {_flag_s(f'({has_tiers} AND {n_valid} > 0 AND {cheapest} > 500)', 'very_high_ticket_price')},"
        f" {_flag_s(f'({has_tiers} AND {n_valid} > 0 AND {cheapest} < 5 AND {cheapest} > 0)', 'very_low_ticket_price')},"
        f" {_flag_s(f'(NOT {has_tiers} AND {free_false})', 'missing_tiers_for_paid_event_or_invalid_format')})"
    )
    return _score_struct_s(f"{t} IS NULL", "missing_ticketing_data", score, flags)


# ----------------------------------------------------------------------
# Composition (quality_scorer.py:29-91, 390-404)


def python_round_sql(c: str, scale: int) -> str:
    """Python ``round()`` semantics as a SQL expression.

    Neither Spark builtin matches Python: ``bround``/``round`` half-even /
    half-up the SHORTEST DECIMAL REPR (bround(0.3425, 3) = 0.342 although
    the binary value is 0.34250000000000002 and Python correctly gives
    0.343). This scaled-floor formula decides on the binary value: exact
    .5 fraction → ties-to-even, else nearest. Matches Python on all probe
    cases (0.3425→0.343, 0.125→0.12, 2.675→2.67); the only residual
    divergence is when the ×10^scale multiplication itself rounds onto an
    exact .5 boundary (no representable example at scale 3 is known).
    """
    m = f"{float(10 ** scale)!r}D"
    scaled = f"({c} * {m})"
    fl = f"floor({scaled})"
    frac = f"({scaled} - {fl})"
    tie_even = f"(CASE WHEN {fl} % 2 = 0 THEN {fl} ELSE {fl} + 1 END)"
    rounded = (
        f"(CASE WHEN {frac} = 0.5D THEN {tie_even}"
        f" WHEN {frac} > 0.5D THEN {fl} + 1 ELSE {fl} END)"
    )
    return f"(CAST({rounded} AS DOUBLE) / {m})"


def overall_score_sql(
    title_s: str, venue_s: str, datetime_s: str, acts_s: str, ticketing_s: str
) -> str:
    """Weighted overall, accumulated in reference dict order, Python-round
    semantics to 3 — quality_scorer.py:390-404."""
    w = FIELD_WEIGHTS
    total = (
        f"({title_s} * {w['title']!r}D + {venue_s} * {w['venue']!r}D"
        f" + {datetime_s} * {w['datetime']!r}D + {acts_s} * {w['acts']!r}D"
        f" + {ticketing_s} * {w['ticketing']!r}D)"
    )
    total_weight = (
        f"({w['title']!r}D + {w['venue']!r}D + {w['datetime']!r}D"
        f" + {w['acts']!r}D + {w['ticketing']!r}D)"
    )
    return python_round_sql(f"({total} / {total_weight})", 3)


# SURVEY R3
def with_data_quality(df: DataFrame, now: datetime) -> DataFrame:
    """``df`` plus the ``data_quality`` struct column scored from its
    ``title``, ``venue``, ``datetime``, ``acts`` and ``ticketing`` columns
    (quality_scorer.py:29-91).

    The five field scorers are projected ONCE into a struct column; the
    overall score, the field scores and the flags then read it by name.
    Composing the scorers directly inlines each scorer tree at all three
    uses — the Catalyst-analysis blowup (ROADMAP gotchas)."""
    fields = "__dq_fields"
    scored = df.selectExpr(
        "*",
        f"named_struct('title', {score_title_info_sql('title')},"
        f" 'venue', {score_venue_info_sql('venue')},"
        f" 'datetime', {score_datetime_info_sql('`datetime`', now)},"
        f" 'acts', {score_acts_info_sql('acts')},"
        f" 'ticketing', {score_ticketing_info_sql('ticketing')}) AS {fields}",
    )
    names = ("title", "venue", "datetime", "acts", "ticketing")
    score = [f"{fields}.{f}.score" for f in names]
    field_scores = ", ".join(f"'{f}', {s}" for f, s in zip(names, score))
    flags = ", ".join(
        f"transform({fields}.{f}.flags, x -> named_struct('field', '{f}', 'issue', x))"
        for f in names
    )
    keep = [f"`{c}`" for c in df.columns]
    return scored.selectExpr(
        *keep,
        f"named_struct('overall_score', {overall_score_sql(*score)},"
        f" 'field_quality_scores', named_struct({field_scores}),"
        f" 'validation_flags', concat({flags}),"
        " 'manual_verification', named_struct('is_verified', false,"
        " 'verified_by', CAST(NULL AS STRING), 'verified_at', CAST(NULL AS STRING)))"
        " AS data_quality",
    )


# ----------------------------------------------------------------------
# Summary / recommendation (quality_scorer.py:412-451, SURVEY D6)


def quality_level(overall: Column) -> Column:
    return (
        F.when(overall >= 0.9, "Excellent")
        .when(overall >= 0.8, "Good")
        .when(overall >= 0.7, "Fair")
        .when(overall >= 0.6, "Poor")
        .otherwise("Very Poor")
    )


def weak_fields(fqs: Column) -> Column:
    """Field names scoring < 0.7, in schema order (quality_scorer.py:430)."""
    pairs = F.array(
        *[
            F.struct(F.lit(f).alias("field"), fqs[f].alias("score"))
            for f in ("title", "venue", "datetime", "acts", "ticketing")
        ]
    )
    return F.transform(F.filter(pairs, lambda p: p["score"] < 0.7), lambda p: p["field"])
