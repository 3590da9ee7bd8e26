"""Declarative data-quality rule engine (SURVEY D5/A14).

The reference specifies a 32-rule catalog (docs/data_quality_rules.md:30-86:
C001-C011 completeness, VF001-VF011 validity/format, CP001-CP008
consistency/plausibility, DF001-DF002 freshness) with a registry design
(docs/dq_assessment_script_design.md:160-213). Here each rule is a named
boolean SQL expression over the unified events table; the rule set evaluates
in ONE projection producing ``dq_rule_results: array<struct<rule_id,
severity, field, passed>>``, and the rollup (A14) is an explode + groupBy.

Issue-table output (docs/dq_assessment_script_design.md:264-280): one row
per failed rule per event — the ``data_quality_issues`` collection analog.

Predicates are SQL STRINGS, not stacked Column builders (r12, VERDICT r11
item 1): 32 rules × ~6 Column calls each was the repo's last >1 s
driver-side plan construction (~1.5 s of py4j round trips per build). One
``selectExpr`` string parses in one round trip with an identical Catalyst
plan — the q53/q54/simhash conversion pattern. Each predicate is a function
of ``now`` so the freshness rules stay deterministic under an injected
clock; True = PASS, and evaluation wraps every predicate in
``coalesce(…, false)`` (three-valued SQL logic: an unevaluable rule must
not count as passed).

Scale: rule evaluation is embarrassingly parallel (no shuffle); only the
rollup aggregates. C001's uniqueness check is the exception — it needs a
count over event_id, implemented as a window count (single shuffle on the
key, which the merge layer already partitions by).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .quality import timestamp_sql, truthy_sql
from .strings import VALID_CURRENCIES

_URL_RE = r"(?i)^https?://[^\s/]+\.[^\s/]+"
_IANA_TZ_RE = r"^[A-Za-z]+/[A-Za-z_+-]+$|^UTC$|^CET$|^CEST$"
_PLACEHOLDER_TITLES = ("untitled event", "lorem ipsum", "test event", "tbc", "tba")
_GENERIC_VENUES = ("tbc", "tba", "venue to be announced", "unknown venue", "to be confirmed")

# Spark SQL string literals are backslash-escaped (unlike DuckDB's), so a
# regex embedded in a predicate string must double its backslashes.
_URL_SQL = _URL_RE.replace("\\", "\\\\")
_TZ_SQL = _IANA_TZ_RE.replace("\\", "\\\\")
_CURRENCIES_SQL = ", ".join(f"'{c}'" for c in VALID_CURRENCIES)
_PLACEHOLDER_SQL = ", ".join(f"'{t}'" for t in _PLACEHOLDER_TITLES)
_GENERIC_SQL = ", ".join(f"'{v}'" for v in _GENERIC_VENUES)


@dataclass(frozen=True)
class Rule:
    rule_id: str
    severity: str  # Critical | High | Medium | Low
    field: str
    description: str
    predicate_sql: Callable[[datetime], str]  # SQL boolean expr; True = PASS


def _valid_iso(c: str) -> str:
    return f"({c} IS NULL OR try_to_timestamp({c}) IS NOT NULL)"


# NULL-collection convention: the old Column predicates wrapped collections
# in coalesce(col, empty) before size()/filter(); the SQL forms use the
# equivalent `col IS NULL OR size(filter(col, …)) = 0` (empty collection
# filters to size 0 → the same truth value), which also avoids empty-literal
# type-coercion differences between engines.
RULES: list[Rule] = [
    # --- Completeness (C001-C011)
    Rule("C001", "Critical", "event_id", "unique non-empty event id",
         lambda now: f"({truthy_sql('event_id')} AND __event_id_count = 1)"),
    Rule("C002", "Critical", "title", "non-empty title",
         lambda now: truthy_sql("title")),
    Rule("C003", "Critical", "datetime.start_date", "valid start date",
         lambda now: f"({truthy_sql('`datetime`.start_date')}"
         " AND try_to_timestamp(`datetime`.start_date) IS NOT NULL)"),
    Rule("C004", "Critical", "scraping_metadata.source_url", "valid source url",
         lambda now: f"({truthy_sql('scraping_metadata.source_url')}"
         f" AND scraping_metadata.source_url RLIKE '{_URL_SQL}')"),
    Rule("C005", "High", "venue.name", "primary location identifier present",
         lambda now: f"({truthy_sql('venue.name')} OR {truthy_sql('venue.address.full_address')})"),
    Rule("C006", "Medium", "content", "description present",
         lambda now: f"({truthy_sql('content.full_description')}"
         f" OR {truthy_sql('content.short_description')})"),
    Rule("C007", "Medium", "content.keywords", "content keywords/hashtags present",
         lambda now: "((content.keywords IS NOT NULL AND size(content.keywords) > 0)"
         " OR (content.hashtags IS NOT NULL AND size(content.hashtags) > 0))"),
    Rule("C008", "Medium", "ticketing", "price info present for paid events",
         lambda now: "((ticketing.is_free != false)"
         " OR (ticketing.tiers IS NOT NULL AND size(ticketing.tiers) > 0)"
         f" OR {truthy_sql('ticketing.tickets_url')})"),
    Rule("C009", "Critical", "scraping_metadata.source_platform", "source platform present",
         lambda now: truthy_sql("scraping_metadata.source_platform")),
    Rule("C010", "Critical", "scraping_metadata.last_scraped", "valid scraped timestamp",
         lambda now: f"({truthy_sql('scraping_metadata.last_scraped')}"
         " AND try_to_timestamp(scraping_metadata.last_scraped) IS NOT NULL)"),
    Rule("C011", "Medium", "acts", "performer information present",
         lambda now: "(acts IS NOT NULL AND size(acts) > 0)"),
    # --- Validity & format (VF001-VF011)
    Rule("VF001", "Critical", "scraping_metadata.source_url", "source url format",
         lambda now: "(scraping_metadata.source_url IS NULL"
         f" OR scraping_metadata.source_url RLIKE '{_URL_SQL}')"),
    Rule("VF002", "High", "venue.social_links", "social/image link formats",
         lambda now: "(venue.social_links IS NULL OR size(filter("
         f"map_values(venue.social_links), v -> NOT (v RLIKE '{_URL_SQL}'))) = 0)"),
    Rule("VF003", "High", "ticketing.tickets_url", "ticket url format",
         lambda now: "(ticketing.tickets_url IS NULL"
         f" OR ticketing.tickets_url RLIKE '{_URL_SQL}')"),
    Rule("VF004", "Critical", "datetime", "ISO-8601 dates parse",
         lambda now: f"({_valid_iso('`datetime`.start_date')}"
         f" AND {_valid_iso('`datetime`.end_date')}"
         f" AND {_valid_iso('scraping_metadata.first_scraped')}"
         f" AND {_valid_iso('scraping_metadata.last_scraped')})"),
    Rule("VF005", "High", "datetime.timezone", "IANA timezone string",
         lambda now: "(`datetime`.timezone IS NULL"
         f" OR `datetime`.timezone RLIKE '{_TZ_SQL}')"),
    Rule("VF006", "High", "ticketing.tiers.tier_price", "non-negative numeric prices",
         lambda now: "(ticketing.tiers IS NULL OR size(filter(ticketing.tiers,"
         " t -> t.tier_price IS NOT NULL AND t.tier_price < 0)) = 0)"),
    Rule("VF007", "High", "ticketing.tiers.currency", "ISO-4217 currency codes",
         lambda now: "(ticketing.tiers IS NULL OR size(filter(ticketing.tiers,"
         " t -> t.currency IS NOT NULL AND upper(t.currency)"
         f" NOT IN ({_CURRENCIES_SQL}))) = 0)"),
    Rule("VF008", "High", "venue.coordinates", "geo-coordinates in range",
         lambda now: "(venue.coordinates.coordinates IS NULL"
         " OR size(venue.coordinates.coordinates) != 2"
         " OR (get(venue.coordinates.coordinates, 0) BETWEEN -180.0D AND 180.0D"
         " AND get(venue.coordinates.coordinates, 1) BETWEEN -90.0D AND 90.0D))"),
    Rule("VF009", "High", "system_flags", "boolean flags are boolean",
         lambda now: "(system_flags.is_hidden IS NOT NULL"
         " AND system_flags.is_featured IS NOT NULL)"),
    Rule("VF010", "Medium", "acts", "each act has a name",
         lambda now: "(acts IS NULL OR size(filter(acts,"
         " a -> a.act_name IS NULL OR a.act_name = '')) = 0)"),
    Rule("VF011", "Medium", "title", "string length limits",
         lambda now: "(length(coalesce(title, '')) <= 500"
         " AND length(coalesce(content.full_description, '')) <= 10000"
         " AND length(coalesce(venue.name, '')) <= 200)"),
    # --- Consistency & plausibility (CP001-CP008)
    Rule("CP001", "High", "datetime", "end date >= start date",
         lambda now: "(`datetime`.end_date IS NULL OR `datetime`.start_date IS NULL"
         " OR try_to_timestamp(`datetime`.end_date)"
         " >= try_to_timestamp(`datetime`.start_date))"),
    # SURVEY F7
    Rule("CP002", "Medium", "datetime", "plausible duration (< 7 days)",
         lambda now: "(`datetime`.end_date IS NULL OR `datetime`.start_date IS NULL"
         " OR (CAST(try_to_timestamp(`datetime`.end_date) AS DOUBLE)"
         f" - CAST(try_to_timestamp(`datetime`.start_date) AS DOUBLE)) < {7 * 86400})"),
    Rule("CP003", "Medium", "datetime.start_date", "start within [-1y, +3y]",
         lambda now: "(try_to_timestamp(`datetime`.start_date) IS NULL"
         " OR try_to_timestamp(`datetime`.start_date) BETWEEN"
         f" {timestamp_sql(now - timedelta(days=365))} AND {timestamp_sql(now + timedelta(days=3 * 365))})"),
    Rule("CP004", "Medium", "venue.address", "city/country consistency",
         lambda now: "(venue.address.city IS NULL OR venue.address.country IS NULL"
         " OR NOT (contains(lower(venue.address.city), 'ibiza')"
         " AND lower(venue.address.country) != 'spain'))"),
    Rule("CP005", "Medium", "ticketing.tiers.tier_price", "plausible prices",
         lambda now: "(ticketing.tiers IS NULL OR size(filter(ticketing.tiers,"
         " t -> t.tier_price IS NOT NULL AND (t.tier_price > 10000"
         " OR (t.tier_price > 0 AND t.tier_price < 1)))) = 0)"),
    Rule("CP006", "High", "ticketing", "is_free consistent with prices",
         lambda now: "((ticketing.is_free != true) OR (ticketing.tiers IS NULL"
         " OR size(filter(ticketing.tiers, t -> t.tier_price > 0)) = 0))"),
    Rule("CP007", "Low", "title", "no placeholder title",
         lambda now: f"(NOT (lower(coalesce(title, '')) IN ({_PLACEHOLDER_SQL})))"),
    Rule("CP008", "Low", "venue.name", "no generic venue name",
         lambda now: f"(NOT (lower(coalesce(venue.name, '')) IN ({_GENERIC_SQL})))"),
    # --- Freshness (DF001-DF002)
    Rule("DF001", "High", "scraping_metadata.last_scraped", "scraped within 7 days",
         lambda now: "(try_to_timestamp(scraping_metadata.last_scraped) IS NULL"
         " OR try_to_timestamp(scraping_metadata.last_scraped)"
         f" >= {timestamp_sql(now - timedelta(days=7))})"),
    Rule("DF002", "Medium", "scraping_metadata.last_scraped", "future events freshly scraped",
         lambda now: "(try_to_timestamp(`datetime`.start_date) IS NULL"
         f" OR try_to_timestamp(`datetime`.start_date) <= {timestamp_sql(now)}"
         " OR try_to_timestamp(scraping_metadata.last_scraped)"
         f" >= {timestamp_sql(now - timedelta(days=30))})"),
]

RULES_BY_ID = {r.rule_id: r for r in RULES}


def evaluate_rules(events: DataFrame, now: datetime) -> DataFrame:
    """Adds ``dq_rule_results: array<struct<rule_id,severity,field,passed>>``.

    One projection built as ONE selectExpr string (one SQL parse instead of
    ~200 py4j Column calls — r12); the only shuffle is the C001 uniqueness
    window count. A predicate that evaluates to NULL (three-valued SQL
    logic over missing fields, e.g. C008 with NULL ``is_free`` and no
    tiers) counts as a FAIL — an unevaluable rule must not count as passed,
    and the rollup's failure count and pass rate must agree on it.
    """
    entries = ", ".join(
        f"named_struct('rule_id', '{r.rule_id}', 'severity', '{r.severity}',"
        f" 'field', '{r.field}',"
        f" 'passed', coalesce({r.predicate_sql(now)}, false))"
        for r in RULES
    )
    return (
        events.selectExpr(
            "*", "count(*) OVER (PARTITION BY event_id) AS __event_id_count"
        )
        .selectExpr("*", f"array({entries}) AS dq_rule_results")
        .drop("__event_id_count")
    )


def issue_table(evaluated: DataFrame) -> DataFrame:
    """One row per failed rule per event — the ``data_quality_issues``
    collection analog (docs/dq_assessment_script_design.md:264-280)."""
    return (
        evaluated.select(
            "event_id",
            F.explode(F.filter(F.col("dq_rule_results"), lambda r: ~r["passed"])).alias("r"),
        )
        .select(
            "event_id",
            F.col("r.rule_id").alias("rule_id"),
            F.col("r.severity").alias("severity"),
            F.col("r.field").alias("field"),
        )
    )


def rule_rollup(evaluated: DataFrame) -> DataFrame:
    """A14 — per-rule failure counts + pass rate.

    ``total_events`` is ``count(*)`` inside the same aggregate (r12):
    ``evaluate_rules`` emits exactly one entry per rule per event, so the
    per-rule group size IS the event count — the old separate
    ``evaluated.count()`` job was a second full pass over the corpus."""
    return (
        evaluated.select(F.explode("dq_rule_results").alias("r"))
        .groupBy(
            F.col("r.rule_id").alias("rule_id"),
            F.col("r.severity").alias("severity"),
            F.col("r.field").alias("field"),
        )
        .agg(
            F.sum(F.when(~F.col("r.passed"), 1).otherwise(0)).alias("failures"),
            F.round(F.avg(F.when(F.col("r.passed"), 1.0).otherwise(0.0)), 4).alias("pass_rate"),
            F.count("*").alias("total_events"),
        )
        .orderBy("rule_id")
    )


def dq_summary(evaluated: DataFrame) -> DataFrame:
    """Docs-with-issues / clean-docs / overall pass rate summary."""
    failed_any = F.size(F.filter(F.col("dq_rule_results"), lambda r: ~r["passed"])) > 0
    critical_failed = (
        F.size(
            F.filter(
                F.col("dq_rule_results"),
                lambda r: ~r["passed"] & (r["severity"] == "Critical"),
            )
        )
        > 0
    )
    return evaluated.agg(
        F.count("*").alias("total_events"),
        F.sum(F.when(failed_any, 1).otherwise(0)).alias("events_with_issues"),
        F.sum(F.when(critical_failed, 1).otherwise(0)).alias("events_with_critical_issues"),
    )
