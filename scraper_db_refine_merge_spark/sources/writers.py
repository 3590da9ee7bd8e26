"""File sinks: JSON, CSV with union-of-keys +
JSON-stringified complex cells (P2 exclude-projection, F22 serialize),
markdown report rendering, filtered app export.

The JSON/CSV writers are engine-side (distributed ``df.write``); the markdown
renderer is an explicitly driver-side presentation layer over ``collect()``
(SURVEY S11 note: a thin Python writer, not an engine operator) and must only
be fed pre-limited DataFrames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType


# SURVEY S9
def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S9 — JSON lines export (scrapers_v2/utils.py:213-243 writes an array;
    engine-native form is JSONL, one doc per line, distributed)."""
    df.write.mode(mode).json(path)


# SURVEY F22
def _stringify_complex(df: DataFrame) -> DataFrame:
    """F22 — complex values → JSON strings in cells (scrapers_v2/utils.py:268-283)."""
    out = df
    for f in df.schema.fields:
        if isinstance(f.dataType, (StructType, ArrayType, MapType)):
            out = out.withColumn(f.name, F.to_json(F.col(f.name)))
    return out


# SURVEY S10
def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S10 — CSV with sorted union-of-keys header and JSON-stringified complex
    cells (scrapers_v2/utils.py:246-294)."""
    flat = _stringify_complex(df)
    ordered = flat.select(*sorted(flat.columns))
    ordered.write.mode(mode).option("header", True).csv(path)


# SURVEY S12/P2
def export_for_app(
    events: DataFrame, min_quality: float = 0.7, limit: int = 100
) -> DataFrame:
    """S12/P2 — filtered projection export (query_examples.py:269-300): quality +
    future filter, drop bulky/internal sections (P2 exclude-projection), sort, cap."""
    slim = (
        events.filter(F.col("data_quality.overall_score") >= min_quality)
        .drop("data_quality", "deduplication")
        .withColumn(
            "scraping_metadata",
            F.col("scraping_metadata").dropFields("raw_data"),
        )
        .orderBy(F.col("start_ts").asc(), F.col("event_id"))
        .limit(limit)
    )
    return slim


# SURVEY S11
def render_markdown(rows: list, title: str = "Events Report") -> str:
    """S11 — human-readable markdown over collected summary rows
    (generate_events_markdown.py:60-133 shape: title header + field bullets).

    ``rows`` are Row objects from a *pre-limited* summary projection.
    """
    lines = [f"# {title}", ""]
    for i, r in enumerate(rows, 1):
        d = r.asDict(recursive=True)
        name = d.get("title") or d.get("event_id") or f"Event {i}"
        lines.append(f"## {i}. {name}")
        for k, v in d.items():
            if k == "title" or v is None:
                continue
            if isinstance(v, str) and len(v) > 200:
                v = v[:200] + "..."
            lines.append(f"- **{k}**: {v}")
        lines.append("")
    return "\n".join(lines)
