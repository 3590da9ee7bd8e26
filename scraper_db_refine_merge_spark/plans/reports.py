"""Report-script queries (SURVEY P11; Phase 4: the 6 report scripts).

Each reference report script becomes a DataFrame function over the unified
events table; driver-side rendering (markdown/print) lives in
sources/writers.py, keeping engine vs presentation separate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.quality import quality_level


def date_distribution(events: DataFrame) -> DataFrame:
    """A2/F4 — events per day (mongo_queries.py:55-66, event_stats_report.py:40-61):
    $toDate/$dateToString become to_timestamp/date_format."""
    return (
        events.filter(F.col("start_ts").isNotNull())
        .groupBy(F.date_format("start_ts", "yyyy-MM-dd").alias("date"))
        .agg(F.count("*").alias("count"))
        .orderBy("date")
    )


def quality_statistics(events: DataFrame) -> DataFrame:
    """A4 — one-row multi-stat aggregate incl. per-field averages
    (query_examples.py:146-163)."""
    s = F.col("data_quality.overall_score")
    fq = "data_quality.field_quality_scores"
    return events.agg(
        F.count("*").alias("total_events"),
        F.round(F.avg(s), 3).alias("avg_quality"),
        F.round(F.min(s), 3).alias("min_quality"),
        F.round(F.max(s), 3).alias("max_quality"),
        F.round(F.avg(f"{fq}.title"), 3).alias("avg_title_quality"),
        F.round(F.avg(f"{fq}.venue"), 3).alias("avg_venue_quality"),
        F.round(F.avg(f"{fq}.datetime"), 3).alias("avg_datetime_quality"),
        F.round(F.avg(f"{fq}.acts"), 3).alias("avg_acts_quality"),
        F.round(F.avg(f"{fq}.ticketing"), 3).alias("avg_ticketing_quality"),
    )


QUALITY_BUCKET_BOUNDARIES = (0.0, 0.5, 0.6, 0.7, 0.8, 0.9, 1.01)


def quality_histogram(events: DataFrame) -> DataFrame:
    """A6 — $bucket histogram over overall score (query_examples.py:187-201)."""
    s = F.col("data_quality.overall_score")
    b = QUALITY_BUCKET_BOUNDARIES
    label = F.lit("Other")
    for lo, hi in reversed(list(zip(b[:-1], b[1:]))):
        label = F.when((s >= lo) & (s < hi), f"{lo}-{hi}").otherwise(label)
    return events.groupBy(label.alias("bucket")).agg(F.count("*").alias("count")).orderBy("bucket")


def month_comparison(events: DataFrame, month_a: str, month_b: str) -> DataFrame:
    """query_july_vs_august.py:47-97 — per-month count/avg-quality compare.
    Months as 'yyyy-MM' strings."""
    m = F.date_format("start_ts", "yyyy-MM")
    return (
        events.filter(m.isin(month_a, month_b))
        .groupBy(m.alias("month"))
        .agg(
            F.count("*").alias("event_count"),
            F.round(F.avg("data_quality.overall_score"), 3).alias("avg_quality"),
            F.countDistinct("venue.name").alias("distinct_venues"),
        )
        .orderBy("month")
    )


def low_quality_events(events: DataFrame, threshold: float = 0.7, limit: int = 50) -> DataFrame:
    """A9 — restricted quality report (query_examples.py:102-118,
    data_migration.py:217-266): events below threshold with their flags."""
    return (
        events.filter(
            F.col("data_quality.overall_score").isNotNull()
            & (F.col("data_quality.overall_score") < threshold)
        )
        .select(
            "event_id",
            "title",
            F.col("data_quality.overall_score").alias("overall_score"),
            F.col("data_quality.validation_flags").alias("validation_flags"),
        )
        .orderBy(F.col("overall_score").asc(), F.col("event_id"))
        .limit(limit)
    )


def quality_summary_report(events: DataFrame) -> DataFrame:
    """D6 — per-event band label + weak fields (quality_scorer.py:412-451)."""
    from ..functions.quality import weak_fields

    return events.select(
        "event_id",
        "title",
        F.col("data_quality.overall_score").alias("overall_score"),
        quality_level(F.col("data_quality.overall_score")).alias("quality_level"),
        weak_fields(F.col("data_quality.field_quality_scores")).alias("weak_fields"),
        F.size(F.col("data_quality.validation_flags")).alias("total_flags"),
    )


def field_presence_profile(events: DataFrame) -> DataFrame:
    """A11 — schema-drift field profile: how many events carry each top-level
    section (health_report field_distribution)."""
    checks = {
        "title": F.col("title").isNotNull(),
        "datetime.start_date": F.col("datetime.start_date").isNotNull(),
        "venue.name": F.col("venue.name").isNotNull(),
        "acts": F.size(F.coalesce(F.col("acts"), F.array())) > 0,
        "ticketing.tiers": F.size(F.coalesce(F.col("ticketing.tiers"), F.array())) > 0,
        "content.full_description": F.col("content.full_description").isNotNull(),
        "data_quality.overall_score": F.col("data_quality.overall_score").isNotNull(),
    }
    aggs = [F.sum(F.when(c, 1).otherwise(0)).alias(name) for name, c in checks.items()]
    wide = events.agg(F.count("*").alias("total"), *aggs)
    stack_expr = ", ".join(f"'{name}', `{name}`" for name in checks)
    return wide.selectExpr(
        "total", f"stack({len(checks)}, {stack_expr}) as (field_name, docs_with_field)"
    ).select("field_name", "docs_with_field", "total")


def field_type_profile(events: DataFrame, fields: list[str]) -> DataFrame:
    """P11 — type-introspection projection (event_stats_report.py:30-37:
    ``{"$type": "$datetime.start_date"}``): per-field runtime type counts.
    Spark analog: ``typeof`` per value, plus schema-declared type."""
    rows = None
    for f in fields:
        one = events.select(
            F.lit(f).alias("field"),
            F.typeof(F.col(f)).alias("runtime_type"),
        ).groupBy("field", "runtime_type").agg(F.count("*").alias("n"))
        rows = one if rows is None else rows.unionByName(one)
    return rows.orderBy("field", "runtime_type")


def first_stage_hosts(events: DataFrame) -> DataFrame:
    """W2 — the event's promoter = host of stages[0]
    (generate_events_markdown.py:72-79): positional first-element access via
    ``element_at``, no explode."""
    host = F.element_at(F.col("venue.stages"), 1)["host"]["host_name"]
    return events.select(
        "event_id",
        F.col("title"),
        host.alias("promoter"),
    )
