"""Quality scoring engine as native column expressions
(SURVEY D1/D2, D6, A10, A13, F18, F21, R1-R3).

Re-implements the reference's QualityScorer (database/quality_scorer.py:15-452)
branch-for-branch as JVM-side expressions — no UDFs — so scoring 10^9 events
is a single codegen'd projection.

§2 coverage in this module: A10 (weighted overall average), A13 (array_min
over available tiers), F6 (date sanity windows), F18 (title heuristics),
F21 (rounding), R1 (per-element acts scoring via HOFs), R2 (tier validity
proportion + cheapest + currency), R3 (validation-flag flattening).

Bit-parity notes:
- additions accumulate in the same order as the reference's ``score += ...``
  statements, so float results are identical;
- the overall score uses ``python_round`` (binary-value nearest with exact
  ties-to-even) — neither Spark ``round`` nor ``bround`` matches Python's
  ``round(x, 3)`` on all doubles (bround half-evens the shortest decimal
  repr: bround(0.3425, 3) = 0.342 but Python gives 0.343);
- "empty section" (Python falsy dict) maps to a NULL struct; arrays count as
  missing when NULL or empty, mirroring ``not acts_data``.

Each ``score_*`` returns ``struct(score double, flags array<string>)``;
``with_data_quality`` composes them into the schema's ``data_quality``
shape (quality_scorer.py:79-91).
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .strings import _PY_WS, _PY_WS_CHARS, python_strip

FIELD_WEIGHTS = {  # quality_scorer.py:21-27
    "title": 0.25,
    "venue": 0.20,
    "datetime": 0.25,
    "acts": 0.15,
    "ticketing": 0.15,
}

KNOWN_VENUES = ["Hï Ibiza", "Ushuaïa", "Pacha", "Amnesia", "DC10", "Privilege"]


def _truthy(c: Column) -> Column:
    """Python string truthiness: non-null and non-empty."""
    return c.isNotNull() & (c != "")


def _flag(cond: Column, name: str) -> Column:
    """Conditional single-element flag array."""
    return F.when(cond, F.array(F.lit(name))).otherwise(F.array().cast("array<string>"))


def _cat_flags(*parts: Column) -> Column:
    return F.concat(*parts)


# ----------------------------------------------------------------------
# Title (quality_scorer.py:93-139)


def score_title_info(title: Column) -> Column:
    missing = title.isNull() | (title == "")
    length = F.length(title)
    len_ok = length >= 5
    has_date = title.rlike(r"\d{1,2}[/-]\d{1,2}[/-]\d{2,4}|\d{4}")
    # reference: len(title.split()) — Python no-arg split strips edges and
    # splits on the FULL Python whitespace set. Java split over a \s+ pattern
    # keeps a leading empty element ('\tword' would count 2), so strip with
    # python_strip first and split on the same full class.
    stripped = python_strip(title)
    words = F.when(stripped == "", F.lit(0)).otherwise(F.size(F.split(stripped, f"{_PY_WS}+")))
    multi_word = words >= 2
    # reference: re.findall(r'[^a-zA-Z0-9\s\-&]') — Python \s again
    specials = F.length(F.regexp_replace(title, f"[a-zA-Z0-9&\\-{_PY_WS_CHARS}]", ""))
    special_ok = (specials / length) < 0.2
    first = F.substring(title, 1, 1)
    first_upper = (first == F.upper(first)) & (first != F.lower(first))
    all_upper = (title == F.upper(title)) & (title != F.lower(title))
    cap_ok = first_upper & ~all_upper

    score = (
        F.when(len_ok, 0.3).otherwise(0.0)
        + F.when(has_date, 0.2).otherwise(0.0)
        + F.when(multi_word, 0.2).otherwise(0.0)
        + F.when(special_ok, 0.2).otherwise(0.0)
        + F.when(cap_ok, 0.1).otherwise(0.0)
    )
    flags = _cat_flags(_flag(~len_ok, "title_too_short"), _flag(~special_ok, "excessive_special_chars"))
    return F.when(
        missing, F.struct(F.lit(0.0).alias("score"), F.array(F.lit("missing_title")).alias("flags"))
    ).otherwise(F.struct(F.least(score, F.lit(1.0)).alias("score"), flags.alias("flags")))


# ----------------------------------------------------------------------
# Venue (quality_scorer.py:141-191)


def score_venue_info(venue: Column) -> Column:
    name = venue["name"]
    addr = venue["address"]
    coords = venue["coordinates"]

    has_name = _truthy(name)
    known = F.coalesce(
        F.array_contains(F.array(*[name.contains(v) for v in KNOWN_VENUES]), True), F.lit(False)
    )
    has_full_addr = _truthy(addr["full_address"])
    has_street_city = _truthy(addr["street"]) & _truthy(addr["city"])
    has_city = _truthy(addr["city"])
    city_ibiza = F.coalesce(F.lower(addr["city"]).contains("ibiza"), F.lit(False))

    coords_arr = coords["coordinates"]
    coords_present = (
        F.coalesce(coords["type"] == "Point", F.lit(False))
        & coords_arr.isNotNull()
        & (F.size(coords_arr) > 0)
    )
    coords_len2 = F.size(coords_arr) == 2
    # F.get is OOB-null-safe; plain [i] indexing throws under ANSI mode even
    # behind a guard (codegen subexpression elimination evaluates it eagerly)
    lon, lat = F.get(coords_arr, 0), F.get(coords_arr, 1)
    in_ibiza = F.coalesce(
        (lon >= 1.2) & (lon <= 1.6) & (lat >= 38.8) & (lat <= 39.1), F.lit(False)
    )

    score = (
        F.when(has_name, 0.3).otherwise(0.0)
        + F.when(has_name & known, 0.1).otherwise(0.0)
        + F.when(has_full_addr, 0.2).when(has_street_city, 0.15).otherwise(0.0)
        + F.when(has_city, 0.2).otherwise(0.0)
        + F.when(has_city & city_ibiza, 0.1).otherwise(0.0)
        + F.when(coords_present & coords_len2 & in_ibiza, 0.2).otherwise(0.0)
    )
    flags = _cat_flags(
        _flag(~has_name, "missing_venue_name"),
        _flag(~(has_full_addr | has_street_city), "missing_address_details"),
        _flag(~has_city, "missing_city"),
        _flag(coords_present & coords_len2 & ~in_ibiza, "coordinates_outside_ibiza"),
        _flag(coords_present & ~coords_len2, "invalid_coordinates_format"),
        _flag(~coords_present, "missing_coordinates"),
    )
    return F.when(
        venue.isNull(),
        F.struct(F.lit(0.0).alias("score"), F.array(F.lit("missing_venue_data")).alias("flags")),
    ).otherwise(F.struct(F.least(score, F.lit(1.0)).alias("score"), flags.alias("flags")))


# ----------------------------------------------------------------------
# Datetime (quality_scorer.py:193-266)


def score_datetime_info(dt: Column, now: datetime | None = None) -> Column:
    now = now or datetime.now(timezone.utc)
    now_lit = F.lit(now.replace(tzinfo=None)).cast("timestamp")
    past_cutoff = F.lit(now.replace(tzinfo=None) - timedelta(days=30)).cast("timestamp")
    future_cutoff = F.lit(now.replace(tzinfo=None) + timedelta(days=2 * 365)).cast("timestamp")
    _ = now_lit  # cutoffs carry the comparison; kept for clarity

    start_str = dt["start_date"]
    end_str = dt["end_date"]
    has_start = _truthy(start_str)
    start_ts = F.try_to_timestamp(start_str)
    start_valid = start_ts.isNotNull()
    too_past = start_ts < past_cutoff
    too_future = start_ts > future_cutoff
    reasonable = start_valid & ~too_past & ~too_future

    has_end = _truthy(end_str)
    end_ts = F.try_to_timestamp(end_str)
    end_valid = end_ts.isNotNull()
    end_before_start = end_valid & start_valid & (end_ts < start_ts)
    end_ok = end_valid & start_valid & (end_ts >= start_ts)

    tz = dt["timezone"]
    has_tz = _truthy(tz)
    tz_bonus = F.coalesce(tz.isin("Europe/Madrid", "CET", "CEST"), F.lit(False))

    rec = dt["recurring"]
    is_rec = F.coalesce(rec["is_recurring"], F.lit(False))
    has_pattern = _truthy(rec["pattern_description"])

    score = (
        F.when(has_start, 0.4).otherwise(0.0)
        + F.when(has_start & reasonable, 0.1).otherwise(0.0)
        + F.when(has_end, 0.1).otherwise(0.0)
        + F.when(has_end & has_start & end_ok, 0.05).otherwise(0.0)
        + F.when(has_tz, 0.2).otherwise(0.0)
        + F.when(has_tz & tz_bonus, 0.05).otherwise(0.0)
        + F.when(is_rec, 0.05).otherwise(0.0)
        + F.when(is_rec & has_pattern, 0.1).otherwise(0.0)
    )
    flags = _cat_flags(
        _flag(has_start & start_valid & too_past, "date_too_far_past"),
        _flag(has_start & start_valid & ~too_past & too_future, "date_too_far_future"),
        _flag(has_start & ~start_valid, "invalid_start_date_format"),
        _flag(~has_start, "missing_start_date"),
        _flag(has_end & has_start & end_before_start, "end_date_before_start_date"),
        _flag(has_end & has_start & ~end_valid, "invalid_end_date_format"),
        _flag(~has_tz, "missing_timezone"),
        _flag(is_rec & ~has_pattern, "missing_recurring_pattern_description"),
    )
    return F.when(
        dt.isNull(),
        F.struct(F.lit(0.0).alias("score"), F.array(F.lit("missing_datetime_data")).alias("flags")),
    ).otherwise(F.struct(F.least(score, F.lit(1.0)).alias("score"), flags.alias("flags")))


# ----------------------------------------------------------------------
# Acts (quality_scorer.py:268-318)


def score_acts_info(acts: Column) -> Column:
    missing = acts.isNull() | (F.size(acts) == 0)
    n = F.size(acts)
    # component >= 0.6 iff the act has a name (0.6 from name alone; max 0.4 without)
    valid = F.size(F.filter(acts, lambda a: _truthy(a["act_name"])))
    nameless = F.filter(acts, lambda a: ~_truthy(a["act_name"]))
    nameless_flags = F.transform(nameless, lambda a: F.lit("missing_act_name_in_list"))

    score = (
        F.lit(0.4)
        + F.when(valid > 0, F.lit(0.4) * (valid / n)).otherwise(0.0)
        + F.when(n >= 3, 0.2).when(n >= 2, 0.1).otherwise(0.0)
    )
    return F.when(
        missing,
        F.struct(F.lit(0.0).alias("score"), F.array(F.lit("missing_acts_data")).alias("flags")),
    ).otherwise(
        F.struct(F.least(score, F.lit(1.0)).alias("score"), nameless_flags.alias("flags"))
    )


# ----------------------------------------------------------------------
# Ticketing (quality_scorer.py:320-388)


def score_ticketing_info(t: Column) -> Column:
    is_free = t["is_free"]
    free_true = F.coalesce(is_free == True, F.lit(False))  # noqa: E712
    free_false = F.coalesce(is_free == False, F.lit(False))  # noqa: E712
    free_missing = is_free.isNull()

    url = t["tickets_url"]
    has_url = _truthy(url)
    url_ok = url.startswith("http://") | url.startswith("https://")

    tiers = t["tiers"]
    has_tiers = tiers.isNotNull() & (F.size(tiers) > 0)
    n_tiers = F.size(tiers)

    def tier_valid(x):
        return _truthy(x["tier_name"]) & x["tier_price"].isNotNull() & _truthy(x["currency"])

    valid_tiers_arr = F.filter(tiers, tier_valid)
    n_valid = F.size(valid_tiers_arr)
    cheapest = F.array_min(F.transform(valid_tiers_arr, lambda x: x["tier_price"]))
    currency_found = F.try_element_at(valid_tiers_arr, F.lit(1))["currency"]

    age = t["age_restriction"]
    has_age = F.coalesce(
        age["minimum_age"].isNotNull() | _truthy(age["restriction_type"]), F.lit(False)
    )

    score = (
        F.when(free_true, 0.5).when(free_false, 0.1).otherwise(0.0)
        + F.when(has_url, 0.2).otherwise(0.0)
        + F.when(has_url & url_ok, 0.05).otherwise(0.0)
        + F.when(has_tiers, 0.2).otherwise(0.0)
        + F.when(has_tiers & (n_valid > 0), F.lit(0.1) * (n_valid / n_tiers)).otherwise(0.0)
        + F.when(has_tiers & (n_valid > 0) & (currency_found == "EUR"), 0.05).otherwise(0.0)
        + F.when(
            has_tiers & (n_valid > 0) & (cheapest >= 5) & (cheapest <= 500), 0.05
        ).otherwise(0.0)
        + F.when(has_age, 0.05).otherwise(0.0)
    )
    flags = _cat_flags(
        _flag(free_missing, "missing_is_free_status"),
        _flag(has_url & ~url_ok, "invalid_tickets_url"),
        _flag(~has_url & free_false, "missing_tickets_url_for_paid_event"),
        _flag(has_tiers & (n_valid > 0) & (cheapest > 500), "very_high_ticket_price"),
        _flag(
            has_tiers & (n_valid > 0) & (cheapest < 5) & (cheapest > 0), "very_low_ticket_price"
        ),
        _flag(~has_tiers & free_false, "missing_tiers_for_paid_event_or_invalid_format"),
    )
    return F.when(
        t.isNull(),
        F.struct(F.lit(0.0).alias("score"), F.array(F.lit("missing_ticketing_data")).alias("flags")),
    ).otherwise(F.struct(F.least(score, F.lit(1.0)).alias("score"), flags.alias("flags")))


# ----------------------------------------------------------------------
# Composition (quality_scorer.py:29-91, 390-404)


def python_round(c: Column, scale: int) -> Column:
    """Python ``round()`` semantics as an expression.

    Neither Spark builtin matches Python: ``bround``/``round`` half-even /
    half-up the SHORTEST DECIMAL REPR (bround(0.3425, 3) = 0.342 although
    the binary value is 0.34250000000000002 and Python correctly gives
    0.343). This scaled-floor formula decides on the binary value: exact
    .5 fraction → ties-to-even, else nearest. Matches Python on all probe
    cases (0.3425→0.343, 0.125→0.12, 2.675→2.67); the only residual
    divergence is when the ×10^scale multiplication itself rounds onto an
    exact .5 boundary (no representable example at scale 3 is known).
    """
    m = float(10**scale)
    scaled = c * F.lit(m)
    fl = F.floor(scaled)
    frac = scaled - fl
    tie_even = F.when(fl % 2 == 0, fl).otherwise(fl + 1)
    rounded = (
        F.when(frac == 0.5, tie_even).when(frac > 0.5, fl + 1).otherwise(fl)
    )
    return rounded.cast("double") / F.lit(m)


def overall_score(
    title_s: Column, venue_s: Column, datetime_s: Column, acts_s: Column, ticketing_s: Column
) -> Column:
    """Weighted overall, accumulated in reference dict order, Python-round
    semantics to 3 — quality_scorer.py:390-404."""
    w = FIELD_WEIGHTS
    total = (
        title_s * w["title"]
        + venue_s * w["venue"]
        + datetime_s * w["datetime"]
        + acts_s * w["acts"]
        + ticketing_s * w["ticketing"]
    )
    total_weight = (
        F.lit(w["title"]) + F.lit(w["venue"]) + F.lit(w["datetime"]) + F.lit(w["acts"]) + F.lit(w["ticketing"])
    )
    return python_round(total / total_weight, 3)


def _tag_flags(field: str, flags: Column) -> Column:
    return F.transform(
        flags, lambda issue: F.struct(F.lit(field).alias("field"), issue.alias("issue"))
    )


def with_data_quality(
    df: DataFrame,
    title: Column,
    venue: Column,
    dt: Column,
    acts: Column,
    ticketing: Column,
    now: datetime | None = None,
) -> DataFrame:
    """``df`` plus the event's ``data_quality`` struct column
    (quality_scorer.py:29-91).

    The five field scorers are projected ONCE into a struct column; the
    overall score, the field scores and the flags then read it by name.
    Composing the scorer Columns directly inlines each scorer tree at all
    three uses — the Catalyst-analysis blowup (ROADMAP gotchas)."""
    fields = "__dq_fields"
    scored = df.withColumn(
        fields,
        F.struct(
            score_title_info(title).alias("title"),
            score_venue_info(venue).alias("venue"),
            score_datetime_info(dt, now).alias("datetime"),
            score_acts_info(acts).alias("acts"),
            score_ticketing_info(ticketing).alias("ticketing"),
        ),
    )
    names = ("title", "venue", "datetime", "acts", "ticketing")
    score = {f: F.col(fields)[f]["score"] for f in names}
    return scored.withColumn(
        "data_quality",
        F.struct(
            overall_score(*(score[f] for f in names)).alias("overall_score"),
            F.struct(*(score[f].alias(f) for f in names)).alias("field_quality_scores"),
            F.concat(*(_tag_flags(f, F.col(fields)[f]["flags"]) for f in names)).alias(
                "validation_flags"
            ),
            F.struct(
                F.lit(False).alias("is_verified"),
                F.lit(None).cast("string").alias("verified_by"),
                F.lit(None).cast("string").alias("verified_at"),
            ).alias("manual_verification"),
        ),
    ).drop(fields)


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


# ----------------------------------------------------------------------
# SQL-STRING TWINS (r12). The Column scorers above cost ~300 ms of py4j
# round trips EACH to construct (q53's census profile: 4362 send_commands
# per build); plan-hot callers (plans/sampling.py q53/q54) build the same
# expression trees as ONE selectExpr string instead — one JVM parse, an
# identical Catalyst expression. Inputs are SQL expression strings and MUST
# be attribute leaves (a projected column name), never a constructor tree —
# the analysis-blowup rule (q53/q54, r11) applies to these twins verbatim
# because the input is spliced everywhere the Column version referenced it.
# Parity with the Column forms is pinned row-for-row by
# tests/test_quality_scorer.py::test_sql_twins_match_column_scorers; the
# shared literal conventions: doubles carry the D suffix (a bare 0.5 is
# DECIMAL(1,1) in Spark SQL), additions keep the reference's `score += ...`
# order, regex literals double their backslashes (Spark SQL strings are
# backslash-escaped).


def _truthy_s(c: str) -> str:
    return f"({c} IS NOT NULL AND {c} != '')"


def _flag_s(cond: str, name: str) -> str:
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


def score_title_info_sql(t: str) -> str:
    date_re = _re_s(r"\d{1,2}[/-]\d{1,2}[/-]\d{2,4}|\d{4}")
    # full Python whitespace set, matching the Column variant above
    ws_re = _re_s(f"{_PY_WS}+")
    strip_re = _re_s(f"^{_PY_WS}+|{_PY_WS}+$")
    special_re = _re_s(f"[a-zA-Z0-9&\\-{_PY_WS_CHARS}]")
    missing = f"({t} IS NULL OR {t} = '')"
    length = f"length({t})"
    len_ok = f"({length} >= 5)"
    has_date = f"({t} RLIKE '{date_re}')"
    stripped = f"regexp_replace({t}, '{strip_re}', '')"
    words = (
        f"(CASE WHEN {stripped} = '' THEN 0"
        f" ELSE size(split({stripped}, '{ws_re}')) END)"
    )
    multi_word = f"({words} >= 2)"
    specials = f"length(regexp_replace({t}, '{special_re}', ''))"
    special_ok = f"(({specials} / {length}) < 0.2D)"
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


def score_venue_info_sql(v: str) -> str:
    name = f"{v}.name"
    known = (
        "coalesce(array_contains(array("
        + ", ".join(f"contains({name}, '{kv}')" for kv in KNOWN_VENUES)
        + "), true), false)"
    )
    has_name = _truthy_s(name)
    has_full_addr = _truthy_s(f"{v}.address.full_address")
    has_street_city = f"({_truthy_s(f'{v}.address.street')} AND {_truthy_s(f'{v}.address.city')})"
    has_city = _truthy_s(f"{v}.address.city")
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


def score_datetime_info_sql(d: str, now: datetime | None = None) -> str:
    now = now or datetime.now(timezone.utc)

    def ts_lit(dt: datetime) -> str:
        return f"TIMESTAMP '{dt.replace(tzinfo=None):%Y-%m-%d %H:%M:%S.%f}'"

    past_cutoff = ts_lit(now - timedelta(days=30))
    future_cutoff = ts_lit(now + timedelta(days=2 * 365))
    s = f"{d}.start_date"
    e = f"{d}.end_date"
    has_start = _truthy_s(s)
    start_ts = f"try_to_timestamp({s})"
    start_valid = f"({start_ts} IS NOT NULL)"
    too_past = f"({start_ts} < {past_cutoff})"
    too_future = f"({start_ts} > {future_cutoff})"
    reasonable = f"({start_valid} AND NOT {too_past} AND NOT {too_future})"
    has_end = _truthy_s(e)
    end_ts = f"try_to_timestamp({e})"
    end_valid = f"({end_ts} IS NOT NULL)"
    end_before_start = f"({end_valid} AND {start_valid} AND ({end_ts} < {start_ts}))"
    end_ok = f"({end_valid} AND {start_valid} AND ({end_ts} >= {start_ts}))"
    tz = f"{d}.timezone"
    has_tz = _truthy_s(tz)
    tz_bonus = f"coalesce({tz} IN ('Europe/Madrid', 'CET', 'CEST'), false)"
    is_rec = f"coalesce({d}.recurring.is_recurring, false)"
    has_pattern = _truthy_s(f"{d}.recurring.pattern_description")
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


def score_acts_info_sql(a: str) -> str:
    missing = f"({a} IS NULL OR size({a}) = 0)"
    n = f"size({a})"
    truthy_name = "(x.act_name IS NOT NULL AND x.act_name != '')"
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


def score_ticketing_info_sql(t: str) -> str:
    is_free = f"{t}.is_free"
    free_true = f"coalesce({is_free} = true, false)"
    free_false = f"coalesce({is_free} = false, false)"
    free_missing = f"({is_free} IS NULL)"
    url = f"{t}.tickets_url"
    has_url = _truthy_s(url)
    url_ok = f"(startswith({url}, 'http://') OR startswith({url}, 'https://'))"
    tiers = f"{t}.tiers"
    has_tiers = f"({tiers} IS NOT NULL AND size({tiers}) > 0)"
    n_tiers = f"size({tiers})"
    tier_valid = (
        "((x.tier_name IS NOT NULL AND x.tier_name != '')"
        " AND x.tier_price IS NOT NULL"
        " AND (x.currency IS NOT NULL AND x.currency != ''))"
    )
    valid_arr = f"filter({tiers}, x -> {tier_valid})"
    n_valid = f"size({valid_arr})"
    cheapest = f"array_min(transform({valid_arr}, x -> x.tier_price))"
    currency_found = f"try_element_at({valid_arr}, 1).currency"
    age = f"{t}.age_restriction"
    has_age = (
        f"coalesce(({age}.minimum_age IS NOT NULL"
        f" OR {_truthy_s(f'{age}.restriction_type')}), false)"
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


def python_round_sql(c: str, scale: int) -> str:
    """SQL twin of :func:`python_round` (same scaled-floor CASE)."""
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
    """SQL twin of :func:`overall_score` — same literal order, same
    runtime total_weight accumulation."""
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
