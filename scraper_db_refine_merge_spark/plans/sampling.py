"""Training-data sampling/splitting + quality-engine gate queries (q47-q54).

The dataset-construction ops every large-scale training pipeline needs on
top of dedup/similarity: deterministic splits, per-group quotas (data
mixing), and benchmark decontamination. All are hash-based — NEVER
``rand()`` — so task retries, re-runs, and different partitionings produce
identical datasets, and the DuckDB oracle can state the same math
('0x…'::UBIGINT ≡ Spark conv(hex,16,10), verified elsewhere).

Scale shape: q47/q48 are one narrow projection plus (for q48) one window
over the group key; q49 is a broadcast anti-join on a 128-bit content hash
— the blocklist side (benchmark suite fingerprints) is tiny by nature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.strings import PY_WS_RE2
from ..operators.dedup import normalized_text
from ..sources.tables import load_table

# Python str.strip()/re-\s whitespace for DuckDB (RE2) oracle mirrors —
# keep in lockstep with functions.strings._PY_WS (the Spark/Java class).
_WS = PY_WS_RE2
_STRIP = f"^{_WS}+|{_WS}+$"

QUERIES: dict = {}
ORACLES: dict = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def hash_unit(c) -> F.Column:
    """Deterministic uniform-ish u ∈ [0,1) from the top 8 hex chars of
    md5(key) — the portable replacement for rand(seed)."""
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("double")
        / F.lit(4294967296.0)
    )


_SQL_HASH_UNIT = (
    "(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT / 4294967296.0)"
)


# --------------------------------------------------------------------------
# q47 — deterministic train/val/test split (80/10/10 by id hash).
@_register(
    "q47_train_val_test_split",
    f"""
    WITH u AS (SELECT doc_id, lang, {_SQL_HASH_UNIT} AS unit FROM documents)
    SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs
    FROM (
        SELECT doc_id, lang,
               CASE WHEN unit < 0.8 THEN 'train'
                    WHEN unit < 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM u
    )
    GROUP BY split
    """,
)
def q47_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    u = hash_unit(F.col("doc_id"))
    split = (
        F.when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test")
    )
    return (
        d.select("doc_id", "lang", split.alias("split"))
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.countDistinct("lang").alias("n_langs"))
    )


# --------------------------------------------------------------------------
# q48 — per-language quota sampling (data mixing): keep ≤ 30 docs per lang,
# chosen by deterministic hash priority (stable across runs/partitionings).
@_register(
    "q48_per_lang_quota",
    """
    SELECT doc_id, lang, rn AS priority_rank
    FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= 30
    """,
)
def q48_per_lang_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.withColumn("priority_rank", F.row_number().over(w))
        .filter(F.col("priority_rank") <= 30)
        .select("doc_id", "lang", "priority_rank")
    )


# --------------------------------------------------------------------------
# q49 — benchmark decontamination: drop corpus docs whose normalized content
# hash appears in the "benchmark" set (simulated here as docs with id < 25).
# The anti-join catches verbatim benchmark leakage including re-ids.
_SQL_NORM49 = "md5(lower(regexp_replace(trim(text), '[\\s\\x0b]+', ' ', 'g')))"


@_register(
    "q49_decontaminate",
    f"""
    WITH block AS (SELECT DISTINCT {_SQL_NORM49} AS h FROM documents WHERE doc_id < 25)
    SELECT lang, COUNT(*) AS n_clean
    FROM documents
    WHERE {_SQL_NORM49} NOT IN (SELECT h FROM block)
    GROUP BY lang
    """,
)
def q49_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(normalized_text(F.col("text")))
    corpus = d.select("doc_id", "lang", h.alias("h"))
    block = corpus.filter(F.col("doc_id") < 25).select("h").distinct()
    return (
        corpus.join(F.broadcast(block), "h", "left_anti")
        .groupBy("lang")
        .agg(F.count("*").alias("n_clean"))
    )


# --------------------------------------------------------------------------
# q50 — refine-core under the oracle gate: the SAME engine functions the
# refine() pipeline uses (whitespace normalize F11, event-type classify F19,
# sha256 composite id J2) applied to raw-shaped rows derived from documents,
# mirrored in SQL. uuid5 ids (sha1-based) stay golden-tested — DuckDB ships
# no sha1.
@_register(
    "q50_refine_core",
    rf"""
    WITH raw AS (
        SELECT doc_id,
               '  Event ' || CAST(doc_id AS VARCHAR) ||
               CASE WHEN doc_id % 4 = 0 THEN '   Festival '
                    WHEN doc_id % 4 = 1 THEN ' Live  '
                    ELSE ' ' END AS title,
               CASE WHEN doc_id % 3 = 0 THEN ' Beach  Club '
                    WHEN doc_id % 3 = 1 THEN 'Main Room'
                    ELSE source END AS venue,
               '2025-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
                       || '-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS date_str
        FROM documents
    ),
    cleaned AS (
        SELECT doc_id, date_str,
               nullif(regexp_replace(regexp_replace(title, '{_STRIP}', '', 'g'),
                                     '{_WS}+', ' ', 'g'), '') AS title,
               nullif(regexp_replace(regexp_replace(venue, '{_STRIP}', '', 'g'),
                                     '{_WS}+', ' ', 'g'), '') AS venue
        FROM raw
    )
    SELECT doc_id, title, venue,
           CASE WHEN lower(title) SIMILAR TO '.*(festival|fest).*' THEN 'festival'
                WHEN lower(venue) SIMILAR TO '.*(beach|pool|outdoor).*' THEN 'day_party'
                WHEN lower(title) SIMILAR TO '.*(live|concert|band).*' THEN 'concert'
                ELSE 'club_night' END AS event_type,
           sha256(concat_ws('|',
               CASE WHEN title IS NULL THEN 'none'
                    ELSE lower(regexp_replace(title, '{_STRIP}', '', 'g')) END,
               CASE WHEN date_str IS NULL THEN 'none'
                    ELSE lower(regexp_replace(date_str, '{_STRIP}', '', 'g')) END,
               CASE WHEN venue IS NULL THEN 'none'
                    ELSE lower(regexp_replace(venue, '{_STRIP}', '', 'g')) END,
               'stream.example.com')) AS event_id
    FROM cleaned
    """,
)
def q50_refine_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.ids import composite_event_id
    from ..functions.strings import classify_event_type, normalize_whitespace

    d = load_table(spark, sf_dir, "documents")
    mod4, mod3 = F.col("doc_id") % 4, F.col("doc_id") % 3
    raw_title = F.concat(
        F.lit("  Event "),
        F.col("doc_id").cast("string"),
        F.when(mod4 == 0, "   Festival ").when(mod4 == 1, " Live  ").otherwise(" "),
    )
    raw_venue = (
        F.when(mod3 == 0, " Beach  Club ").when(mod3 == 1, "Main Room").otherwise(F.col("source"))
    )
    date_str = F.concat(
        F.lit("2025-"),
        F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
    )
    title = normalize_whitespace(raw_title)
    venue = normalize_whitespace(raw_venue)
    return d.select(
        "doc_id",
        title.alias("title"),
        venue.alias("venue"),
        classify_event_type(title, venue).alias("event_type"),
        composite_event_id(title, date_str, venue, F.lit("stream.example.com")).alias("event_id"),
    )


# --------------------------------------------------------------------------
# q52 — the D1 title scorer under the oracle gate: the SAME score_title_info_sql
# expression refine's quality stage uses, over title variants derived from
# documents (null / too-short / ALL-CAPS / date-bearing / plain), mirrored
# branch-for-branch in SQL. Flags are emitted as a joined string so the
# comparator sees a scalar. Float parity: the score terms add in the same
# left-to-right order in both engines.
@_register(
    "q52_title_scores",
    r"""
    WITH titled AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN NULL
                    WHEN doc_id % 5 = 1 THEN upper(substring(text, 1, 20))
                    WHEN doc_id % 5 = 2 THEN 'X'
                    WHEN doc_id % 5 = 3 THEN 'Party 2025 ' || substring(text, 1, 10)
                    ELSE substring(text, 1, 40) END AS title
        FROM documents
    ),
    feats AS (
        SELECT doc_id, title,
               length(title) AS len,
               regexp_matches(title, '\d{1,2}[/-]\d{1,2}[/-]\d{2,4}|\d{4}') AS has_date,
               -- Python len(title.split()): full-Python-\s strip + split
               CASE WHEN regexp_replace(title, '^[\s\x0b\x1c-\x1f\x85\p{Z}]+|[\s\x0b\x1c-\x1f\x85\p{Z}]+$', '', 'g') = '' THEN 0
                    ELSE len(string_split_regex(
                             regexp_replace(title, '^[\s\x0b\x1c-\x1f\x85\p{Z}]+|[\s\x0b\x1c-\x1f\x85\p{Z}]+$', '', 'g'),
                             '[\s\x0b\x1c-\x1f\x85\p{Z}]+')) END AS words,
               length(regexp_replace(title, '[a-zA-Z0-9&\-\s\x0b\x1c-\x1f\x85\p{Z}]', '', 'g')) AS specials,
               substring(title, 1, 1) AS first
        FROM titled
    )
    SELECT doc_id,
           CASE WHEN title IS NULL OR title = '' THEN 0.0
                -- literals cast to DOUBLE: DuckDB would otherwise add
                -- DECIMALs exactly while Spark adds doubles (0.3+0.2+... =
                -- 0.9999999999999999 in IEEE order)
                ELSE least(
                    (CASE WHEN len >= 5 THEN CAST(0.3 AS DOUBLE) ELSE 0.0 END)
                  + (CASE WHEN has_date THEN CAST(0.2 AS DOUBLE) ELSE 0.0 END)
                  + (CASE WHEN words >= 2 THEN CAST(0.2 AS DOUBLE) ELSE 0.0 END)
                  + (CASE WHEN specials / len < 0.2 THEN CAST(0.2 AS DOUBLE) ELSE 0.0 END)
                  + (CASE WHEN first = upper(first) AND first <> lower(first)
                          AND NOT (title = upper(title) AND title <> lower(title))
                          THEN CAST(0.1 AS DOUBLE) ELSE 0.0 END),
                    CAST(1.0 AS DOUBLE)) END AS title_score,
           CASE WHEN title IS NULL OR title = '' THEN 'missing_title'
                ELSE coalesce(array_to_string(
                    list_concat(
                        CASE WHEN len >= 5 THEN CAST([] AS VARCHAR[])
                             ELSE ['title_too_short'] END,
                        CASE WHEN specials / len < 0.2 THEN CAST([] AS VARCHAR[])
                             ELSE ['excessive_special_chars'] END),
                    ','), '') END AS title_flags
    FROM feats
    """,
)
def q52_title_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.quality import score_title_info_sql

    d = load_table(spark, sf_dir, "documents")
    mod5 = F.col("doc_id") % 5
    title = (
        F.when(mod5 == 0, F.lit(None).cast("string"))
        .when(mod5 == 1, F.upper(F.substring("text", 1, 20)))
        .when(mod5 == 2, F.lit("X"))
        .when(mod5 == 3, F.concat(F.lit("Party 2025 "), F.substring("text", 1, 10)))
        .otherwise(F.substring("text", 1, 40))
    )
    # the scorer input must be a leaf (see q53): project the title first
    scored = d.select("doc_id", title.alias("__title")).selectExpr(
        "doc_id", score_title_info_sql("__title") + " AS __ts"
    )
    return scored.selectExpr(
        "doc_id", "__ts.score AS title_score", "array_join(__ts.flags, ',') AS title_flags"
    )


# --------------------------------------------------------------------------
# q53 — the FULL D2 quality composer under the oracle gate: title + venue +
# datetime scorers (branch-for-branch SQL mirrors), null acts/ticketing
# sections (constant 0.0 + missing flags), and the A10 weighted overall
# with Python banker's rounding (DuckDB round_even ≡ Spark bround). A fixed
# `now` literal keeps the date-sanity windows deterministic.
_Q53_NOW = "2025-06-01 00:00:00"

_Q53_VENUE_CASES = """
        CASE WHEN doc_id % 4 = 1 THEN 'Amnesia Terrace'
             WHEN doc_id % 4 = 2 THEN 'Random Hall'
             WHEN doc_id % 4 = 3 THEN NULL
             ELSE 'Club ' || CAST(doc_id AS VARCHAR) END AS v_name,
        CASE WHEN doc_id % 3 = 0 THEN 'Carrer de X 5, 07800 Ibiza' ELSE NULL END AS v_full,
        CASE WHEN doc_id % 3 = 1 THEN 'Carrer de Y 9' ELSE NULL END AS v_street,
        CASE WHEN doc_id % 5 = 0 THEN 'Ibiza Town'
             WHEN doc_id % 5 = 1 THEN 'Palma' ELSE NULL END AS v_city,
        CASE WHEN doc_id % 6 = 0 THEN [1.4, 38.9]
             WHEN doc_id % 6 = 1 THEN [2.65, 39.57]
             WHEN doc_id % 6 = 2 THEN [1.4] ELSE NULL END AS v_coords,
        CASE WHEN doc_id % 7 = 0 THEN NULL
             WHEN doc_id % 5 = 2 THEN NULL
             ELSE '2025-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
                  || '-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || ' 23:00:00'
             END AS d_start,
        CASE WHEN doc_id % 4 = 0 THEN 'Europe/Madrid'
             WHEN doc_id % 4 = 1 THEN 'UTC' ELSE NULL END AS d_tz
"""


@_register(
    "q53_quality_overall",
    f"""
    WITH cases AS (
        SELECT doc_id, doc_id % 9 = 8 AS venue_null, doc_id % 11 = 10 AS dt_null,
               {_Q53_VENUE_CASES}
        FROM documents
    ),
    feats AS (
        SELECT *,
               v_name IS NOT NULL AND v_name <> '' AS has_name,
               coalesce(v_name LIKE '%Amnesia%' OR v_name LIKE '%Pacha%'
                        OR v_name LIKE '%Hï Ibiza%' OR v_name LIKE '%Ushuaïa%'
                        OR v_name LIKE '%DC10%' OR v_name LIKE '%Privilege%', FALSE) AS known,
               v_full IS NOT NULL AND v_full <> '' AS has_full,
               v_street IS NOT NULL AND v_street <> ''
                   AND v_city IS NOT NULL AND v_city <> '' AS has_sc,
               v_city IS NOT NULL AND v_city <> '' AS has_city,
               coalesce(lower(v_city) LIKE '%ibiza%', FALSE) AS city_ib,
               v_coords IS NOT NULL AND len(v_coords) > 0 AS c_present,
               coalesce(len(v_coords) = 2, FALSE) AS c_len2,
               coalesce(v_coords[1] >= 1.2 AND v_coords[1] <= 1.6
                        AND v_coords[2] >= 38.8 AND v_coords[2] <= 39.1, FALSE) AS c_ibiza,
               d_start IS NOT NULL AND d_start <> '' AS has_start,
               try_cast(d_start AS TIMESTAMP) IS NOT NULL AS start_valid,
               coalesce(try_cast(d_start AS TIMESTAMP)
                        < TIMESTAMP '{_Q53_NOW}' - INTERVAL 30 DAY, FALSE) AS too_past,
               coalesce(try_cast(d_start AS TIMESTAMP)
                        > TIMESTAMP '{_Q53_NOW}' + INTERVAL 730 DAY, FALSE) AS too_future,
               d_tz IS NOT NULL AND d_tz <> '' AS has_tz,
               coalesce(d_tz IN ('Europe/Madrid', 'CET', 'CEST'), FALSE) AS tz_bonus
        FROM cases
    ),
    scored AS (
        SELECT doc_id,
               CASE WHEN venue_null THEN CAST(0.0 AS DOUBLE)
                    ELSE least(
                        (CASE WHEN has_name THEN CAST(0.3 AS DOUBLE) ELSE 0.0 END)
                      + (CASE WHEN has_name AND known THEN CAST(0.1 AS DOUBLE) ELSE 0.0 END)
                      + (CASE WHEN has_full THEN CAST(0.2 AS DOUBLE)
                              WHEN has_sc THEN CAST(0.15 AS DOUBLE) ELSE 0.0 END)
                      + (CASE WHEN has_city THEN CAST(0.2 AS DOUBLE) ELSE 0.0 END)
                      + (CASE WHEN has_city AND city_ib THEN CAST(0.1 AS DOUBLE) ELSE 0.0 END)
                      + (CASE WHEN c_present AND c_len2 AND c_ibiza
                              THEN CAST(0.2 AS DOUBLE) ELSE 0.0 END),
                        CAST(1.0 AS DOUBLE)) END AS venue_score,
               CASE WHEN venue_null THEN 'missing_venue_data'
                    ELSE coalesce(array_to_string(
                        CASE WHEN NOT has_name THEN ['missing_venue_name']
                             ELSE CAST([] AS VARCHAR[]) END
                        || CASE WHEN NOT (has_full OR has_sc)
                                THEN ['missing_address_details'] ELSE CAST([] AS VARCHAR[]) END
                        || CASE WHEN NOT has_city THEN ['missing_city']
                                ELSE CAST([] AS VARCHAR[]) END
                        || CASE WHEN c_present AND c_len2 AND NOT c_ibiza
                                THEN ['coordinates_outside_ibiza'] ELSE CAST([] AS VARCHAR[]) END
                        || CASE WHEN c_present AND NOT c_len2
                                THEN ['invalid_coordinates_format'] ELSE CAST([] AS VARCHAR[]) END
                        || CASE WHEN NOT c_present THEN ['missing_coordinates']
                                ELSE CAST([] AS VARCHAR[]) END, ','), '') END AS venue_flags,
               CASE WHEN dt_null THEN CAST(0.0 AS DOUBLE)
                    ELSE least(
                        (CASE WHEN has_start THEN CAST(0.4 AS DOUBLE) ELSE 0.0 END)
                      + (CASE WHEN has_start AND start_valid AND NOT too_past AND NOT too_future
                              THEN CAST(0.1 AS DOUBLE) ELSE 0.0 END)
                      + (CASE WHEN has_tz THEN CAST(0.2 AS DOUBLE) ELSE 0.0 END)
                      + (CASE WHEN has_tz AND tz_bonus THEN CAST(0.05 AS DOUBLE) ELSE 0.0 END),
                        CAST(1.0 AS DOUBLE)) END AS datetime_score,
               CASE WHEN dt_null THEN 'missing_datetime_data'
                    ELSE coalesce(array_to_string(
                        CASE WHEN has_start AND start_valid AND too_past
                             THEN ['date_too_far_past'] ELSE CAST([] AS VARCHAR[]) END
                        || CASE WHEN has_start AND start_valid AND NOT too_past AND too_future
                                THEN ['date_too_far_future'] ELSE CAST([] AS VARCHAR[]) END
                        || CASE WHEN has_start AND NOT start_valid
                                THEN ['invalid_start_date_format'] ELSE CAST([] AS VARCHAR[]) END
                        || CASE WHEN NOT has_start THEN ['missing_start_date']
                                ELSE CAST([] AS VARCHAR[]) END
                        || CASE WHEN NOT has_tz THEN ['missing_timezone']
                                ELSE CAST([] AS VARCHAR[]) END, ','), '') END AS datetime_flags
        FROM feats
    ),
    with_scaled AS (
        SELECT *,
               (CAST(0.0 AS DOUBLE) * 0.25 + venue_score * 0.20
                + datetime_score * 0.25 + CAST(0.0 AS DOUBLE) * 0.15
                + CAST(0.0 AS DOUBLE) * 0.15) / CAST(1.0 AS DOUBLE) * 1000.0 AS scaled
        FROM scored
    )
    SELECT doc_id, venue_score, venue_flags, datetime_score, datetime_flags,
           -- Python-round: decide on the binary value (see quality.python_round_sql)
           CASE WHEN scaled - floor(scaled) = 0.5
                THEN (CASE WHEN CAST(floor(scaled) AS BIGINT) % 2 = 0
                           THEN floor(scaled) ELSE floor(scaled) + 1 END) / 1000.0
                WHEN scaled - floor(scaled) > 0.5 THEN (floor(scaled) + 1) / 1000.0
                ELSE floor(scaled) / 1000.0 END AS overall
    FROM with_scaled
    """,
)
def q53_quality_overall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import datetime as _dt

    from ..functions.quality import (
        overall_score_sql,
        score_datetime_info_sql,
        score_venue_info_sql,
    )

    d = load_table(spark, sf_dir, "documents")
    venue_t = (
        "struct<name:string,address:struct<street:string,city:string,full_address:string>,"
        "coordinates:struct<type:string,coordinates:array<double>>>"
    )
    # fixture constructors as SQL strings too (r12): the WHEN-chain Column
    # builders were the other half of the build cost
    name = (
        "CASE WHEN doc_id % 4 = 1 THEN 'Amnesia Terrace'"
        " WHEN doc_id % 4 = 2 THEN 'Random Hall'"
        " WHEN doc_id % 4 = 3 THEN CAST(NULL AS STRING)"
        " ELSE concat('Club ', CAST(doc_id AS STRING)) END"
    )
    coords_arr = (
        "CASE WHEN doc_id % 6 = 0 THEN array(1.4D, 38.9D)"
        " WHEN doc_id % 6 = 1 THEN array(2.65D, 39.57D)"
        " WHEN doc_id % 6 = 2 THEN array(1.4D)"
        " ELSE CAST(NULL AS ARRAY<DOUBLE>) END"
    )
    venue = (
        f"CASE WHEN doc_id % 9 = 8 THEN CAST(NULL AS {venue_t}) ELSE named_struct("
        f"'name', {name},"
        " 'address', named_struct("
        "   'street', CASE WHEN doc_id % 3 = 1 THEN 'Carrer de Y 9' ELSE CAST(NULL AS STRING) END,"
        "   'city', CASE WHEN doc_id % 5 = 0 THEN 'Ibiza Town'"
        "            WHEN doc_id % 5 = 1 THEN 'Palma' ELSE CAST(NULL AS STRING) END,"
        "   'full_address', CASE WHEN doc_id % 3 = 0 THEN 'Carrer de X 5, 07800 Ibiza'"
        "                    ELSE CAST(NULL AS STRING) END),"
        " 'coordinates', named_struct("
        f"   'type', CASE WHEN ({coords_arr}) IS NOT NULL THEN 'Point' ELSE CAST(NULL AS STRING) END,"
        f"   'coordinates', {coords_arr})) END"
    )
    dt_t = (
        "struct<start_date:string,end_date:string,timezone:string,"
        "recurring:struct<is_recurring:boolean,pattern_description:string>>"
    )
    start = (
        "CASE WHEN doc_id % 7 = 0 OR doc_id % 5 = 2 THEN CAST(NULL AS STRING)"
        " ELSE concat('2025-', lpad(CAST(doc_id % 12 + 1 AS STRING), 2, '0'),"
        " '-', lpad(CAST(doc_id % 28 + 1 AS STRING), 2, '0'), ' 23:00:00') END"
    )
    dtc = (
        f"CASE WHEN doc_id % 11 = 10 THEN CAST(NULL AS {dt_t}) ELSE named_struct("
        f"'start_date', {start},"
        " 'end_date', CAST(NULL AS STRING),"
        " 'timezone', CASE WHEN doc_id % 4 = 0 THEN 'Europe/Madrid'"
        "              WHEN doc_id % 4 = 1 THEN 'UTC' ELSE CAST(NULL AS STRING) END,"
        " 'recurring', CAST(NULL AS struct<is_recurring:boolean,pattern_description:string>)) END"
    )
    now = _dt(2025, 6, 1, 0, 0, 0)
    # PROJECTION BOUNDARIES (r11): every scorer reference re-inlines its
    # argument tree, so scoring the WHEN-chain constructors directly made
    # the analyzed plan combinatorially large — one .select() spent 5.4 s
    # in JVM-side Catalyst analysis (measured; exec was 0.6 s). Two
    # intermediate projections make the case columns and then the scored
    # structs attribute LEAVES, so each big tree is built and analyzed
    # exactly once. Values identical (projection composition); the
    # optimizer still collapses what it wants AFTER analysis.
    base = d.selectExpr("doc_id", f"{venue} AS __venue", f"{dtc} AS __dt")
    # The scorers are SQL strings: one JVM parse per stage instead of a
    # Column-builder tree (~0.6 s of py4j round trips per build, census
    # profile: 4362 send_commands) — the same scorers refine runs.
    scored = base.selectExpr(
        "doc_id",
        score_venue_info_sql("__venue") + " AS __vs",
        score_datetime_info_sql("__dt", now=now) + " AS __ds",
    )
    return scored.selectExpr(
        "doc_id",
        "__vs.score AS venue_score",
        "array_join(__vs.flags, ',') AS venue_flags",
        "__ds.score AS datetime_score",
        "array_join(__ds.flags, ',') AS datetime_flags",
        overall_score_sql("0.0D", "__vs.score", "__ds.score", "0.0D", "0.0D")
        + " AS overall",
    )


# --------------------------------------------------------------------------
# q54 — the remaining D1 scorers (acts R1, ticketing R2/A13) under the gate,
# closing out the quality engine: every scorer family is now hash-verified
# cross-engine. The Spark side runs the real HOF operators over constructed
# arrays/structs; the oracle states the per-case outcome with the same
# double arithmetic in the same accumulation order.
@_register(
    "q54_acts_ticketing_scores",
    """
    WITH c AS (SELECT doc_id, doc_id % 5 AS am, doc_id % 7 AS tm FROM documents),
    scored AS (
        SELECT doc_id,
            CASE WHEN am IN (0, 1) THEN CAST(0.0 AS DOUBLE)
                 WHEN am = 2 THEN least(CAST(0.4 AS DOUBLE) + CAST(0.4 AS DOUBLE) * (1.0 / 1.0) + 0.0, CAST(1.0 AS DOUBLE))
                 WHEN am = 3 THEN least(CAST(0.4 AS DOUBLE) + CAST(0.4 AS DOUBLE) * (1.0 / 2.0) + CAST(0.1 AS DOUBLE), CAST(1.0 AS DOUBLE))
                 ELSE least(CAST(0.4 AS DOUBLE) + CAST(0.4 AS DOUBLE) * (3.0 / 3.0) + CAST(0.2 AS DOUBLE), CAST(1.0 AS DOUBLE))
                 END AS acts_score,
            CASE WHEN am IN (0, 1) THEN 'missing_acts_data'
                 WHEN am = 3 THEN 'missing_act_name_in_list'
                 ELSE '' END AS acts_flags,
            CASE tm
                 WHEN 0 THEN CAST(0.0 AS DOUBLE)
                 WHEN 1 THEN CAST(0.5 AS DOUBLE) + CAST(0.2 AS DOUBLE) + CAST(0.05 AS DOUBLE) + 0.0 + 0.0 + 0.0 + 0.0 + 0.0
                 WHEN 2 THEN CAST(0.1 AS DOUBLE) + CAST(0.2 AS DOUBLE) + 0.0 + 0.0 + 0.0 + 0.0 + 0.0 + 0.0
                 WHEN 3 THEN CAST(0.1 AS DOUBLE) + 0.0 + 0.0 + CAST(0.2 AS DOUBLE) + CAST(0.1 AS DOUBLE) * (1.0 / 2.0) + CAST(0.05 AS DOUBLE) + CAST(0.05 AS DOUBLE) + 0.0
                 WHEN 4 THEN 0.0 + 0.0 + 0.0 + CAST(0.2 AS DOUBLE) + CAST(0.1 AS DOUBLE) * (1.0 / 1.0) + CAST(0.05 AS DOUBLE) + 0.0 + 0.0
                 WHEN 5 THEN CAST(0.5 AS DOUBLE) + 0.0 + 0.0 + CAST(0.2 AS DOUBLE) + CAST(0.1 AS DOUBLE) * (1.0 / 1.0) + CAST(0.05 AS DOUBLE) + 0.0 + 0.0
                 ELSE CAST(0.1 AS DOUBLE) + CAST(0.2 AS DOUBLE) + CAST(0.05 AS DOUBLE) + CAST(0.2 AS DOUBLE) + CAST(0.1 AS DOUBLE) * (3.0 / 3.0) + CAST(0.05 AS DOUBLE) + CAST(0.05 AS DOUBLE) + CAST(0.05 AS DOUBLE)
                 END AS ticket_score,
            CASE tm
                 WHEN 0 THEN 'missing_ticketing_data'
                 WHEN 1 THEN ''
                 WHEN 2 THEN 'invalid_tickets_url,missing_tiers_for_paid_event_or_invalid_format'
                 WHEN 3 THEN 'missing_tickets_url_for_paid_event'
                 WHEN 4 THEN 'missing_is_free_status,very_high_ticket_price'
                 WHEN 5 THEN 'very_low_ticket_price'
                 ELSE '' END AS ticket_flags
        FROM c
    ),
    with_scaled AS (
        SELECT *,
               (CAST(0.0 AS DOUBLE) * 0.25 + CAST(0.0 AS DOUBLE) * 0.20
                + CAST(0.0 AS DOUBLE) * 0.25 + acts_score * 0.15
                + ticket_score * 0.15) / CAST(1.0 AS DOUBLE) * 1000.0 AS scaled
        FROM scored
    )
    SELECT doc_id, acts_score, acts_flags, ticket_score, ticket_flags,
           CASE WHEN scaled - floor(scaled) = 0.5
                THEN (CASE WHEN CAST(floor(scaled) AS BIGINT) % 2 = 0
                           THEN floor(scaled) ELSE floor(scaled) + 1 END) / 1000.0
                WHEN scaled - floor(scaled) > 0.5 THEN (floor(scaled) + 1) / 1000.0
                ELSE floor(scaled) / 1000.0 END AS overall
    FROM with_scaled
    """,
)
def q54_acts_ticketing_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.quality import (
        overall_score_sql,
        score_acts_info_sql,
        score_ticketing_info_sql,
    )

    d = load_table(spark, sf_dir, "documents")

    def act(name: str) -> str:
        return f"named_struct('act_name', '{name}')"

    acts_t = "array<struct<act_name:string>>"
    acts = (
        f"CASE WHEN doc_id % 5 = 0 THEN CAST(NULL AS {acts_t})"
        f" WHEN doc_id % 5 = 1 THEN CAST(array() AS {acts_t})"
        f" WHEN doc_id % 5 = 2 THEN array({act('Act A')})"
        f" WHEN doc_id % 5 = 3 THEN array({act('Act A')}, {act('')})"
        f" ELSE array({act('Act A')}, {act('Act B')}, {act('Act C')}) END"
    )

    def tier(name: str, price: float, cur: str) -> str:
        return (
            f"named_struct('tier_name', '{name}',"
            f" 'tier_price', CAST({price!r} AS DOUBLE), 'currency', '{cur}')"
        )

    tiers_t = "array<struct<tier_name:string,tier_price:double,currency:string>>"
    age_t = "struct<minimum_age:int,restriction_type:string>"
    tick_t = (
        "struct<is_free:boolean,tickets_url:string,"
        f"tiers:{tiers_t},age_restriction:{age_t}>"
    )

    def tick(is_free, url, tiers, age_min):
        free = "CAST(NULL AS BOOLEAN)" if is_free is None else str(is_free).lower()
        u = "CAST(NULL AS STRING)" if url is None else f"'{url}'"
        tr = f"CAST(NULL AS {tiers_t})" if tiers is None else tiers
        age = "CAST(NULL AS INT)" if age_min is None else str(age_min)
        return (
            f"named_struct('is_free', {free}, 'tickets_url', {u}, 'tiers', {tr},"
            f" 'age_restriction', named_struct('minimum_age', {age},"
            " 'restriction_type', CAST(NULL AS STRING)))"
        )

    tiers3 = "array({}, {})".format(tier("GA", 25.0, "EUR"), tier("", 30.0, "EUR"))
    tiers4 = "array({})".format(tier("VIP", 600.0, "EUR"))
    tiers5 = "array({})".format(tier("Promo", 2.0, "EUR"))
    tiers6 = "array({}, {}, {})".format(
        tier("A", 10.0, "EUR"), tier("B", 20.0, "EUR"), tier("C", 30.0, "EUR")
    )
    ticketing = (
        f"CASE WHEN doc_id % 7 = 0 THEN CAST(NULL AS {tick_t})"
        f" WHEN doc_id % 7 = 1 THEN {tick(True, 'https://t.example/x', None, None)}"
        f" WHEN doc_id % 7 = 2 THEN {tick(False, 'ticket.example/x', None, None)}"
        f" WHEN doc_id % 7 = 3 THEN {tick(False, None, tiers3, None)}"
        f" WHEN doc_id % 7 = 4 THEN {tick(None, None, tiers4, None)}"
        f" WHEN doc_id % 7 = 5 THEN {tick(True, None, tiers5, None)}"
        f" ELSE {tick(False, 'https://t.example/y', tiers6, 18)} END"
    )
    # Projection boundaries against re-inlined scorer arguments — the q53
    # analysis-blowup fix (see its comment): case columns, then scored
    # structs, become attribute leaves. Build 4.4 s -> sub-second; fixture
    # constructors are SQL strings too (r12).
    base = d.selectExpr("doc_id", f"{acts} AS __acts", f"{ticketing} AS __tick")
    # SQL-string scorers — see q53's comment.
    scored = base.selectExpr(
        "doc_id",
        score_acts_info_sql("__acts") + " AS __as",
        score_ticketing_info_sql("__tick") + " AS __ts",
    )
    return scored.selectExpr(
        "doc_id",
        "__as.score AS acts_score",
        "array_join(__as.flags, ',') AS acts_flags",
        "__ts.score AS ticket_score",
        "array_join(__ts.flags, ',') AS ticket_flags",
        overall_score_sql("0.0D", "0.0D", "0.0D", "__as.score", "__ts.score")
        + " AS overall",
    )


# --------------------------------------------------------------------------
# q78 — deterministic WEIGHTED sampling (Efraimidis–Spirakis) without any
# floating pow/ln: for an integer weight w, the max of w independent
# hash-uniforms has CDF t^w — identical in distribution to the classic
# u^(1/w) priority — so the top-k by that max IS a weighted sample, and
# every comparison is over exact dyadic rationals both engines compute
# identically. Replication cost is O(weight) per row (weights here 1..5;
# at scale cap/bucket the weights). Top-k plans as TakeOrderedAndProject.
@_register(
    "q78_weighted_sample",
    """
    WITH w AS (SELECT doc_id, n_chars % 5 + 1 AS weight FROM documents),
    e AS (SELECT doc_id, weight, unnest(range(1, weight + 1)) AS j FROM w),
    k AS (
        SELECT doc_id, weight,
               MAX(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':'
                    || CAST(j AS VARCHAR)), 1, 8))::UBIGINT / 4294967296.0)
                   AS sample_key
        FROM e GROUP BY 1, 2
    )
    SELECT doc_id, CAST(weight AS INT) AS weight, sample_key
    FROM k ORDER BY sample_key DESC, doc_id LIMIT 50
    """,
)
def q78_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return weighted_sample(
        d.select("doc_id", (F.col("n_chars") % 5 + 1).alias("weight")),
        "doc_id",
        "weight",
        k=50,
    )


def weighted_sample(df: DataFrame, id_col: str, weight_col: str, k: int) -> DataFrame:
    """Weighted sample of k rows: P(selected) ∝ integer ``weight_col``.
    Deterministic (md5 priorities), invariant under partitioning/order."""
    key_j = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col(id_col).cast("string"), F.lit(":"), F.col("j").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    return (
        df.select(id_col, weight_col, F.explode(F.sequence(F.lit(1), F.col(weight_col))).alias("j"))
        .select(id_col, weight_col, key_j.alias("kj"))
        .groupBy(id_col, weight_col)
        .agg(F.max("kj").alias("sample_key"))
        .select(id_col, F.col(weight_col).cast("int").alias("weight"), "sample_key")
        .orderBy(F.col("sample_key").desc(), F.col(id_col))
        .limit(k)
    )


# --------------------------------------------------------------------------
# q115 — STRATIFIED weighted sampling: q78's exact-parity max-of-uniforms
# priority (max of w hash-uniforms ~ u^(1/w), no pow/ln), ranked WITHIN
# each stratum — top-10 per lang, weight ∝ document length band. The
# per-stratum window replaces q78's global top-k; same dyadic-rational
# comparisons, so the sample is identical on any engine/partitioning.
@_register(
    "q115_stratified_weighted_sample",
    """
    WITH w AS (SELECT doc_id, lang, n_chars % 5 + 1 AS weight FROM documents),
    e AS (SELECT doc_id, lang, weight, unnest(range(1, weight + 1)) AS j FROM w),
    k AS (
        SELECT doc_id, lang, weight,
               MAX(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':'
                    || CAST(j AS VARCHAR)), 1, 8))::UBIGINT / 4294967296.0)
                   AS sample_key
        FROM e GROUP BY 1, 2, 3
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY lang ORDER BY sample_key DESC, doc_id) AS rn
        FROM k
    )
    SELECT doc_id, lang, CAST(weight AS INT) AS weight, sample_key
    FROM r WHERE rn <= 10
    """,
)
def q115_stratified_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", "lang", (F.col("n_chars") % 5 + 1).alias("weight"))
    key_j = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit(":"), F.col("j").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    keyed = (
        w.select(
            "doc_id", "lang", "weight",
            F.explode(F.sequence(F.lit(1), F.col("weight"))).alias("j"),
        )
        .select("doc_id", "lang", "weight", key_j.alias("kj"))
        .groupBy("doc_id", "lang", "weight")
        .agg(F.max("kj").alias("sample_key"))
    )
    win = Window.partitionBy("lang").orderBy(F.col("sample_key").desc(), F.col("doc_id"))
    return (
        keyed.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "lang", F.col("weight").cast("int").alias("weight"), "sample_key")
    )


# --------------------------------------------------------------------------
# q139 — deterministic SOURCE-MIXING with epoch repetition: the operator a
# training-data pipeline runs after curation — each source gets a mixture
# factor r (epochs over that source, à la the published LLaMA/Gopher data
# recipes); a document is emitted floor(r) times plus one md5-thinned extra
# copy with probability frac(r). Hash-derived, never rand(): re-runs and
# retried tasks emit the identical sample (the same property q47/q78/q115
# pin for splits and weighted sampling). Scale shape: one narrow projection
# + a per-row bounded explode — partition-preserving, no shuffle, no skew
# (copy counts are ≤ ceil(max r), not data-dependent). Reference analog:
# the per-source crawl scheduling weights of main_orchestrator.py lifted
# into corpus construction.

_MIX_EPOCHS = {"src0": 2.5, "src1": 2.0, "src2": 1.0, "src3": 0.5}
_MIX_DEFAULT = 0.25


def _mix_sql_case(fn) -> str:
    branches = " ".join(
        f"WHEN '{s}' THEN {fn(r)}" for s, r in _MIX_EPOCHS.items()
    )
    return f"CASE source {branches} ELSE {fn(_MIX_DEFAULT)} END"


_SQL_MIX_U = (
    "(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8))::UBIGINT"
    " / 4294967296.0)"
)


@_register(
    "q139_source_mix",
    f"""
    WITH base AS (
        SELECT doc_id, source,
               {_mix_sql_case(lambda r: int(r))}
               + CASE WHEN {_SQL_MIX_U} < {_mix_sql_case(lambda r: round(r - int(r), 2))}
                      THEN 1 ELSE 0 END AS n_copies
        FROM documents
    )
    SELECT doc_id, source, CAST(unnest(range(0, n_copies)) AS BIGINT) AS epoch
    FROM base
    """,
)
def q139_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    floor_part = F.lit(int(_MIX_DEFAULT))
    frac_part = F.lit(round(_MIX_DEFAULT - int(_MIX_DEFAULT), 2))
    for s, r in _MIX_EPOCHS.items():
        floor_part = F.when(F.col("source") == s, F.lit(int(r))).otherwise(floor_part)
        frac_part = F.when(F.col("source") == s, F.lit(round(r - int(r), 2))).otherwise(
            frac_part
        )
    u = hash_unit(F.concat(F.col("doc_id").cast("string"), F.lit(":mix")))
    n_copies = floor_part + F.when(u < frac_part, F.lit(1)).otherwise(F.lit(0))
    return (
        d.select("doc_id", "source", n_copies.alias("__n"))
        .select(
            "doc_id",
            "source",
            F.explode(
                F.when(
                    F.col("__n") > 0, F.sequence(F.lit(0), F.col("__n") - 1)
                ).otherwise(F.expr("CAST(array() AS array<int>)"))
            ).alias("__epoch"),
        )
        .select("doc_id", "source", F.col("__epoch").cast("bigint").alias("epoch"))
    )


# --------------------------------------------------------------------------
# q142 — deterministic SHARD EXPORT manifest: the training-data writer step.
# A reproducible global permutation (order by md5(doc_id) — never rand(),
# so retries/re-runs/partitioning changes produce the identical layout),
# cut into N contiguous balanced shards (ntile over the permuted order),
# with a per-shard manifest row: doc count, token total, global-index range,
# and an ORDER-INDEPENDENT content fingerprint (sum of 48-bit id-hash units
# mod 2^31 — commutative, so the fingerprint is partitioning-invariant and
# two exports can be diffed shard-by-shard without reading data files).
# Scale shape: the permutation + ntile is operators/ranking.with_global_ranks
# (range partition + local windows + offset join — NO unpartitioned global
# window); the manifest aggregation is N_SHARDS groups with map-side partial
# agg. The fingerprint sums in DECIMAL(38,0) (no 2^63 ceiling at corpus
# scale) and reduces mod 2^31 before emit (pandas-layer degradation gotcha).
# Reference analog: the batched export loops of database/export_*.py scripts
# lifted to a reproducible sharded corpus layout.

_N_SHARDS = 16


@_register(
    "q142_shard_export_manifest",
    rf"""
    WITH t AS (
        SELECT doc_id,
               md5(CAST(doc_id AS VARCHAR)) AS pk,
               len(string_split_regex(lower(trim(text)), '[\s\x0b]+')) AS n_tokens,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))::UBIGINT AS fp_unit
        FROM documents
    ),
    o AS (
        SELECT doc_id, n_tokens, fp_unit,
               ROW_NUMBER() OVER (ORDER BY pk, doc_id) AS idx,
               CAST(NTILE({_N_SHARDS}) OVER (ORDER BY pk, doc_id) AS INTEGER) AS shard
        FROM t
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(idx) AS first_idx,
           MAX(idx) AS last_idx,
           CAST(SUM(fp_unit) % 2147483648 AS BIGINT) AS content_fp
    FROM o
    GROUP BY shard
    ORDER BY shard
    """,
)
def q142_shard_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import token_count
    from ..operators.ranking import with_global_ranks

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("pk"),
        token_count(F.col("text")).alias("n_tokens"),
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("bigint")
        .alias("fp_unit"),
    )
    r = with_global_ranks(
        d,
        [F.col("pk"), F.col("doc_id")],
        ["pk", "doc_id"],
        rank_col="idx",  # unique order => rank == row_number
        ntile=("shard", _N_SHARDS),
    )
    return (
        r.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("idx").alias("first_idx"),
            F.max("idx").alias("last_idx"),
            F.expr(
                "CAST(pmod(SUM(CAST(fp_unit AS DECIMAL(38,0))), 2147483648) AS BIGINT)"
            ).alias("content_fp"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# q143 — n-gram CONTAMINATION OVERLAP report: for every eval-split document
# (q47's hash split, unit >= 0.9), the fraction of its distinct 5-token
# shingles that also occur anywhere in the train split (unit < 0.8) — the
# GPT-3-appendix-style overlap statistic that q49 (exact-hash drop) and
# q103/q124 (shared-run detection) don't give: HOW contaminated each eval
# doc is, not just whether. Shingling is the gated q24/q25 pair
# (dedup.word_shingles k=5 / the _SQL_SHINGLES CTE); matching keys are
# md5(shingle) so the shuffle carries 32-byte keys, not raw 5-gram text.
# The overlap bucket is pure integer arithmetic ((10*matched) div total,
# 0..10) — no float rounding to diverge cross-engine. Docs under 5 tokens
# have no shingles and are absent, as in every shingle-family query.
# Scale shape: one distinct over train shingle hashes (map-side partial),
# one left equi-join on the hash — the right side is DISTINCT, so a hot
# stop-shingle contributes at most one row per eval occurrence (bounded,
# no pair explosion), then a per-doc count aggregation.
@_register(
    "q143_contamination_overlap",
    rf"""
    WITH toks AS (
        SELECT doc_id,
               {_SQL_HASH_UNIT} AS unit,
               string_split(lower(regexp_replace(trim(text), '[\s\x0b]+', ' ', 'g')), ' ') AS t
        FROM documents
    ),
    shidx AS (
        SELECT doc_id, unit, t, unnest(range(1, greatest(len(t) - 3, 1))) AS i
        FROM toks
    ),
    sh AS (
        SELECT DISTINCT doc_id, unit, md5(array_to_string(t[i:i+4], ' ')) AS h
        FROM shidx
    ),
    train AS (SELECT DISTINCT h FROM sh WHERE unit < 0.8),
    ev AS (SELECT doc_id, h FROM sh WHERE unit >= 0.9)
    SELECT ev.doc_id,
           COUNT(*) AS n_shingles,
           COUNT(train.h) AS n_matched,
           (10 * COUNT(train.h)) // COUNT(*) AS overlap_bucket,
           COUNT(train.h) > 0 AS contaminated
    FROM ev LEFT JOIN train ON ev.h = train.h
    GROUP BY ev.doc_id
    """,
)
def q143_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import word_shingles

    d = load_table(spark, sf_dir, "documents")
    sh = word_shingles(d, "doc_id", "text", k=5).select(
        "doc",
        hash_unit(F.col("doc")).alias("unit"),
        F.md5(F.col("shingle")).alias("h"),
    )
    train = (
        sh.filter(F.col("unit") < 0.8).select("h").distinct().withColumn("__m", F.lit(1))
    )
    ev = sh.filter(F.col("unit") >= 0.9).select(F.col("doc").alias("doc_id"), "h")
    return (
        ev.join(train, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("__m").alias("n_matched"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_matched",
            F.expr("(10 * n_matched) div n_shingles").alias("overlap_bucket"),
            (F.col("n_matched") > 0).alias("contaminated"),
        )
    )


# --------------------------------------------------------------------------
# q147 — LEAKAGE-FREE SPLIT: near-duplicate documents must land in the SAME
# train/val/test split, or eval metrics are contaminated by train near-dups
# — the standard data-leakage guard naive per-doc hash splits (q47) miss.
# Split key = the duplicate-cluster canonical id (q73's connected
# components over q24's near-dup pairs; singletons key on themselves), so
# a whole cluster moves together. The query reports BOTH strategies side
# by side: per-split doc counts and the number of near-dup pairs whose
# endpoints straddle splits — 0 by construction for cluster_hash, the
# measured leak for doc_hash. Scale shape: pairs/clusters are the existing
# gated scale paths (LSH at corpus scale — q25/q109); the split itself is
# a hash of the cluster key; leak measurement is two (pair → split) joins
# + a count. Oracle: the q73 recursive-closure chain + the same md5 split
# arithmetic.
_SQL_UNIT_OF = (
    "(('0x' || substring(md5(CAST({x} AS VARCHAR)), 1, 8))::UBIGINT / 4294967296.0)"
)


def _sql_split_of(x: str) -> str:
    u = _SQL_UNIT_OF.format(x=x)
    return (
        f"CASE WHEN {u} < 0.8 THEN 'train' WHEN {u} < 0.9 THEN 'val' ELSE 'test' END"
    )


def _leakfree_oracle() -> str:
    from .textqueries import _SQL_PAIR_JACCARD, _SQL_SHINGLES

    return f"""
    WITH RECURSIVE {_SQL_SHINGLES}, {_SQL_PAIR_JACCARD},
    p AS (SELECT a_id, b_id FROM jac WHERE jaccard >= 0.2),
    e AS (SELECT a_id AS s, b_id AS d FROM p UNION SELECT b_id, a_id FROM p),
    reach AS (
        SELECT s, d FROM e
        UNION
        SELECT r.s, e2.d FROM reach r JOIN e e2 ON r.d = e2.s
    ),
    lab AS (SELECT s AS node, least(s, MIN(d)) AS cluster_id FROM reach GROUP BY s),
    asg AS (
        SELECT doc.doc_id,
               {_sql_split_of("doc.doc_id")} AS nsplit,
               {_sql_split_of("COALESCE(lab.cluster_id, doc.doc_id)")} AS csplit
        FROM documents doc LEFT JOIN lab ON doc.doc_id = lab.node
    ),
    nstats AS (
        SELECT CAST(SUM(CASE WHEN nsplit = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
               CAST(SUM(CASE WHEN nsplit = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
               CAST(SUM(CASE WHEN nsplit = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
        FROM asg
    ),
    cstats AS (
        SELECT CAST(SUM(CASE WHEN csplit = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
               CAST(SUM(CASE WHEN csplit = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
               CAST(SUM(CASE WHEN csplit = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
        FROM asg
    ),
    nleak AS (
        SELECT COUNT(*) AS c FROM p
        JOIN asg a ON p.a_id = a.doc_id JOIN asg b ON p.b_id = b.doc_id
        WHERE a.nsplit <> b.nsplit
    ),
    cleak AS (
        SELECT COUNT(*) AS c FROM p
        JOIN asg a ON p.a_id = a.doc_id JOIN asg b ON p.b_id = b.doc_id
        WHERE a.csplit <> b.csplit
    )
    SELECT 'doc_hash' AS strategy, n_train, n_val, n_test, c AS n_leaked_pairs
    FROM nstats, nleak
    UNION ALL
    SELECT 'cluster_hash', n_train, n_val, n_test, c FROM cstats, cleak
    """


@_register("q147_leakage_free_split", _leakfree_oracle())
def q147_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as dd
    from ..operators.graph import dup_clusters

    d = load_table(spark, sf_dir, "documents")
    # persist the near-dup pairs: they are consumed THREE times (the CC
    # fold inside dup_clusters — eager at build — plus both leak joins at
    # exec), and each re-execution re-pays the shingle pair join; the
    # pair set is threshold-restricted, orders smaller than the corpus.
    # Tracked (ADVICE r12 — a bare persist leaked for the session):
    # callers release via _cache.release_caches() after materializing.
    from ..operators._cache import persist_tracked

    pairs = persist_tracked(
        dd.jaccard_pairs(d, "doc_id", "text", k=5, threshold=0.2).select(
            "a_id", "b_id"
        )
    )
    lab = dup_clusters(pairs).select("doc_id", "cluster_id")
    split_of = lambda c: (  # noqa: E731
        F.when(hash_unit(c) < 0.8, "train").when(hash_unit(c) < 0.9, "val").otherwise("test")
    )
    asg = (
        d.select("doc_id")
        .join(lab, "doc_id", "left")
        .select(
            "doc_id",
            split_of(F.col("doc_id")).alias("nsplit"),
            split_of(F.coalesce("cluster_id", "doc_id")).alias("csplit"),
        )
    )

    def stats(col: str):
        return asg.agg(
            *[
                F.sum(F.when(F.col(col) == s, 1).otherwise(0)).alias(f"n_{s}")
                for s in ("train", "val", "test")
            ]
        )

    def leak(col: str):
        a = asg.select(F.col("doc_id").alias("a_id"), F.col(col).alias("__sa"))
        b = asg.select(F.col("doc_id").alias("b_id"), F.col(col).alias("__sb"))
        return (
            pairs.join(a, "a_id")
            .join(b, "b_id")
            .filter(F.col("__sa") != F.col("__sb"))
            .agg(F.count("*").alias("n_leaked_pairs"))
        )

    row_n = (
        stats("nsplit").crossJoin(leak("nsplit")).select(
            F.lit("doc_hash").alias("strategy"), "n_train", "n_val", "n_test",
            "n_leaked_pairs",
        )
    )
    row_c = (
        stats("csplit").crossJoin(leak("csplit")).select(
            F.lit("cluster_hash").alias("strategy"), "n_train", "n_val", "n_test",
            "n_leaked_pairs",
        )
    )
    return row_n.unionByName(row_c)


# --------------------------------------------------------------------------
# q151 — INCREMENTAL CONTAMINATION INDEX: the q143 decontamination
# blocklist maintained as a fold (operators/dedup.fold_contamination_index)
# — benchmark batches arrive over time, each commits only its own distinct
# shingle hashes as an append-only manifest part, and the accumulated
# blocklist equals the one-shot computation because DISTINCT set union is
# associative/commutative/idempotent. The gate states exactly that: eval
# docs (q47 split, unit >= 0.9) folded in TWO parity batches, then the
# train split scanned against the accumulated index — the oracle computes
# the same scan single-shot with no store at all. Completes the
# incremental-index family (q113 MinHash, q129 LM, q131 PQ, q141
# semantic) with the decontamination modality.
@_register(
    "q151_incremental_contamination_index",
    rf"""
    WITH toks AS (
        SELECT doc_id,
               {_SQL_HASH_UNIT} AS unit,
               string_split(lower(regexp_replace(trim(text), '[\s\x0b]+', ' ', 'g')), ' ') AS t
        FROM documents
    ),
    shidx AS (
        SELECT doc_id, unit, t, unnest(range(1, greatest(len(t) - 3, 1))) AS i
        FROM toks
    ),
    sh AS (
        SELECT DISTINCT doc_id, unit, md5(array_to_string(t[i:i+4], ' ')) AS h
        FROM shidx
    ),
    blocked AS (SELECT DISTINCT h FROM sh WHERE unit >= 0.9),
    tr AS (SELECT doc_id, h FROM sh WHERE unit < 0.8)
    SELECT tr.doc_id, COUNT(*) AS n_blocked
    FROM tr JOIN blocked ON tr.h = blocked.h
    GROUP BY tr.doc_id
    """,
)
def q151_incremental_contamination_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..operators.dedup import contamination_scan, fold_contamination_index

    d = load_table(spark, sf_dir, "documents")
    u = hash_unit(F.col("doc_id"))
    ev = d.filter(u >= 0.9)
    root = tempfile.mkdtemp(prefix="q151_contam_")
    for i in range(2):
        fold_contamination_index(
            spark, root, ev.filter(F.col("doc_id") % 2 == i)
        )
    return contamination_scan(spark, root, d.filter(u < 0.8))


# --------------------------------------------------------------------------
# q162 — CONTAMINATION INDEX RE-WIDENING under the oracle gate (r15,
# VERDICT r14 item 4): eval docs folded in two batches at k=4, the index
# atomically rebuilt at k=6 from its stored protected texts
# (reindex_contamination_k), then the train split scanned at the NEW
# frozen width — the oracle computes the k=6 scan single-shot with no
# store and no re-widening at all, so the gate proves rebuild-equals-
# one-shot every round (the q113/q141 pattern for this fold family).
@_register(
    "q162_contamination_reindex",
    rf"""
    WITH toks AS (
        SELECT doc_id,
               {_SQL_HASH_UNIT} AS unit,
               string_split(lower(regexp_replace(trim(text), '[\s\x0b]+', ' ', 'g')), ' ') AS t
        FROM documents
    ),
    shidx AS (
        SELECT doc_id, unit, t, unnest(range(1, greatest(len(t) - 4, 1))) AS i
        FROM toks
    ),
    sh AS (
        SELECT DISTINCT doc_id, unit, md5(array_to_string(t[i:i+5], ' ')) AS h
        FROM shidx
    ),
    blocked AS (SELECT DISTINCT h FROM sh WHERE unit >= 0.9),
    tr AS (SELECT doc_id, h FROM sh WHERE unit < 0.8)
    SELECT tr.doc_id, COUNT(*) AS n_blocked
    FROM tr JOIN blocked ON tr.h = blocked.h
    GROUP BY tr.doc_id
    """,
)
def q162_contamination_reindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..operators.dedup import (
        contamination_scan,
        fold_contamination_index,
        reindex_contamination_k,
    )

    d = load_table(spark, sf_dir, "documents")
    u = hash_unit(F.col("doc_id"))
    ev = d.filter(u >= 0.9)
    root = tempfile.mkdtemp(prefix="q162_contam_")
    for i in range(2):
        fold_contamination_index(
            spark, root, ev.filter(F.col("doc_id") % 2 == i), k=4
        )
    reindex_contamination_k(spark, root, 6)
    return contamination_scan(spark, root, d.filter(u < 0.8))


# --------------------------------------------------------------------------
# q163 — MANIFEST-LAYOUT partitioned merge under the oracle gate (r15,
# VERDICT r14 item 5): two keyed upserts into a source-partitioned table
# committed through the versioned-table manifest and the CAS commit log,
# read back through ``read_table``, aggregated — the
# oracle states the latest-wins result over the same two logical batches
# with no store at all, so the driver proves the layout's read/merge
# equivalence every round.
@_register(
    "q163_partitioned_merge_manifest",
    """
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN n_chars + 1000
                         ELSE n_chars END) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY source
    """,
)
def q163_partitioned_merge_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..operators.merge import merge_upsert_partitioned
    from ..streaming.store import read_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    target = tempfile.mkdtemp(prefix="q163_pm_") + "/t"
    merge_upsert_partitioned(
        spark, target, d, key_cols=["doc_id"], partition_col="source"
    )
    b2 = d.filter(F.col("doc_id") % 5 == 0).withColumn(
        "n_chars", F.col("n_chars") + 1000
    )
    merge_upsert_partitioned(
        spark, target, b2, key_cols=["doc_id"], partition_col="source"
    )
    t = read_table(spark, target)
    return t.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


# --------------------------------------------------------------------------
# q164/q165 — DETERMINISTIC WEIGHTED SAMPLING (operators/weighted.py; the
# ROADMAP item-3 modality): inverse-CDF draws with replacement over the
# integer cumulative-weight axis, md5-derived targets instead of rand().
# The without-replacement ordering (Efraimidis–Spirakis u^(1/w)) needs
# pow/ln — not cross-engine bit-stable — so the exact-integer form is the
# gated one; the oracle states the identical cumsum + modular-draw
# arithmetic. q164 = global draw; q165 = per-source quota (stratified),
# probe seeds include the stratum so strata are independent.
@_register(
    "q164_weighted_sample",
    """
    WITH pos AS (
        SELECT doc_id, n_chars,
               SUM(n_chars) OVER (ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS hi
        FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
    ),
    tot AS (SELECT MAX(hi) AS w_total FROM pos),
    probes AS (
        SELECT j AS sample_idx,
               (('0x' || substring(md5('q164|' || CAST(j AS VARCHAR)), 1, 15))::UBIGINT
                 % (SELECT w_total FROM tot)) + 1 AS target
        FROM (SELECT unnest(range(20)) AS j)
    )
    SELECT p.sample_idx, c.doc_id, c.n_chars
    FROM probes p JOIN pos c
      ON p.target > c.hi - c.n_chars AND p.target <= c.hi
    """,
)
def q164_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.weighted import weighted_sample_with_replacement

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample_with_replacement(
        d, 20, "n_chars", ["doc_id"], seed="q164"
    )


@_register(
    "q165_weighted_sample_stratified",
    """
    WITH pos AS (
        SELECT doc_id, source, n_chars,
               SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS hi
        FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
    ),
    tot AS (SELECT source, MAX(hi) AS w_total FROM pos GROUP BY source),
    probes AS (
        SELECT tt.source, js.j AS sample_idx,
               (('0x' || substring(md5('q165|' || tt.source || '|'
                                        || CAST(js.j AS VARCHAR)), 1, 15))::UBIGINT
                 % tt.w_total) + 1 AS target
        FROM tot tt CROSS JOIN (SELECT unnest(range(5)) AS j) js
    )
    SELECT p.sample_idx, c.doc_id, c.source, c.n_chars
    FROM probes p JOIN pos c
      ON c.source = p.source
     AND p.target > c.hi - c.n_chars AND p.target <= c.hi
    """,
)
def q165_weighted_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.weighted import weighted_sample_stratified

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return weighted_sample_stratified(
        d, 5, "source", "n_chars", ["doc_id"], seed="q165"
    )


# --------------------------------------------------------------------------
# q166 — WEIGHTED SAMPLING WITHOUT REPLACEMENT (r16, VERDICT r15 item 4):
# k DISTINCT docs, P ∝ n_chars, as FIRST-K-DISTINCT of the deterministic
# with-replacement probe stream (drawing with replacement and skipping
# repeats IS successive weighted WOR). The engine grows its probe prefix
# in data-determined rounds until k distinct rows are covered; the result
# is invariant to the stopping point, so the oracle states the same
# arithmetic with one big fixed prefix (4096 probes) — first-k-distinct by
# min probe index agrees for ANY prefix at or past the k-th distinct hit.
@_register(
    "q166_weighted_sample_without_replacement",
    """
    WITH pos AS (
        SELECT doc_id, n_chars,
               SUM(n_chars) OVER (ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS hi
        FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
    ),
    tot AS (SELECT MAX(hi) AS w_total FROM pos),
    probes AS (
        SELECT j,
               (('0x' || substring(md5('q166|' || CAST(j AS VARCHAR)), 1, 15))::UBIGINT
                 % (SELECT w_total FROM tot)) + 1 AS target
        FROM (SELECT unnest(range(4096)) AS j)
    ),
    hits AS (
        SELECT c.doc_id, c.n_chars, MIN(p.j) AS fh
        FROM probes p JOIN pos c
          ON p.target > c.hi - c.n_chars AND p.target <= c.hi
        GROUP BY c.doc_id, c.n_chars
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY fh) - 1 AS INT) AS sample_rank,
           doc_id, n_chars
    FROM hits ORDER BY fh LIMIT 20
    """,
)
def q166_weighted_sample_without_replacement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.weighted import weighted_sample_without_replacement

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample_without_replacement(
        d, 20, "n_chars", ["doc_id"], seed="q166"
    )
