"""Second wave of oracle-checked queries (SURVEY S14, A11, A12, O4):
lag/sessionization, rollup, set operations, smoothed-ratio ranking (O4),
TTL freshness (S14), JSON field profiling (A11), run metrics (A12), and
refine-function demos (F9/F13/F20) with SQL mirrors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.strings import extract_price, normalize_url, url_hash
from ..sources.tables import load_table
from ._util import money_sum

QUERIES: dict = {}
ORACLES: dict = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# --------------------------------------------------------------------------
# q31 — price extraction (F9) applied to synthesized price texts.
# Demonstrates the refine scalar on oracle-checkable data.
@_register(
    "q31_price_extraction",
    r"""
    WITH priced AS (
        SELECT p_partkey,
               CASE WHEN p_partkey % 4 = 0 THEN 'From €' || CAST(p_retailprice AS VARCHAR)
                    WHEN p_partkey % 4 = 1 THEN '$' || CAST(p_retailprice AS VARCHAR)
                    WHEN p_partkey % 4 = 2 THEN CAST(p_retailprice AS VARCHAR) || ' GBP'
                    ELSE 'free entry' END AS price_text
        FROM part
    ),
    extracted AS (
        SELECT p_partkey, price_text,
               CASE WHEN lower(price_text) LIKE '%free%' OR lower(price_text) LIKE '%gratis%'
                    THEN 0.0
                    ELSE CAST(replace(regexp_extract(lower(trim(price_text)),
                         '(?:from\s*)?([€$£])?\s*(\d+(?:[.,]\d{1,2})?)\s*([€$£]|[A-Za-z]{3})?', 2),
                         ',', '.') AS DOUBLE) END AS amount,
               CASE WHEN lower(price_text) LIKE '%free%' OR lower(price_text) LIKE '%gratis%'
                    THEN 'EUR'
                    WHEN regexp_extract(lower(trim(price_text)),
                         '(?:from\s*)?([€$£])?\s*(\d+(?:[.,]\d{1,2})?)\s*([€$£]|[A-Za-z]{3})?', 1) = '€'
                         OR regexp_extract(lower(trim(price_text)),
                         '(?:from\s*)?([€$£])?\s*(\d+(?:[.,]\d{1,2})?)\s*([€$£]|[A-Za-z]{3})?', 3)
                            IN ('€','eur')
                    THEN 'EUR'
                    WHEN regexp_extract(lower(trim(price_text)),
                         '(?:from\s*)?([€$£])?\s*(\d+(?:[.,]\d{1,2})?)\s*([€$£]|[A-Za-z]{3})?', 1) = '$'
                         OR regexp_extract(lower(trim(price_text)),
                         '(?:from\s*)?([€$£])?\s*(\d+(?:[.,]\d{1,2})?)\s*([€$£]|[A-Za-z]{3})?', 3)
                            IN ('$','usd')
                    THEN 'USD'
                    WHEN regexp_extract(lower(trim(price_text)),
                         '(?:from\s*)?([€$£])?\s*(\d+(?:[.,]\d{1,2})?)\s*([€$£]|[A-Za-z]{3})?', 1) = '£'
                         OR regexp_extract(lower(trim(price_text)),
                         '(?:from\s*)?([€$£])?\s*(\d+(?:[.,]\d{1,2})?)\s*([€$£]|[A-Za-z]{3})?', 3)
                            IN ('£','gbp')
                    THEN 'GBP'
                    WHEN length(regexp_extract(lower(trim(price_text)),
                         '(?:from\s*)?([€$£])?\s*(\d+(?:[.,]\d{1,2})?)\s*([€$£]|[A-Za-z]{3})?', 3)) = 3
                    THEN upper(regexp_extract(lower(trim(price_text)),
                         '(?:from\s*)?([€$£])?\s*(\d+(?:[.,]\d{1,2})?)\s*([€$£]|[A-Za-z]{3})?', 3))
                    ELSE 'EUR' END AS currency
        FROM priced
    )
    SELECT currency, COUNT(*) AS n,
           CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
    FROM extracted
    GROUP BY currency
    """,
)
def q31_price_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    price_text = (
        F.when(F.col("p_partkey") % 4 == 0, F.concat(F.lit("From €"), F.col("p_retailprice").cast("string")))
        .when(F.col("p_partkey") % 4 == 1, F.concat(F.lit("$"), F.col("p_retailprice").cast("string")))
        .when(F.col("p_partkey") % 4 == 2, F.concat(F.col("p_retailprice").cast("string"), F.lit(" GBP")))
        .otherwise(F.lit("free entry"))
    )
    ex = extract_price(price_text)
    return (
        p.select(ex["amount"].alias("amount"), ex["currency"].alias("currency"))
        .groupBy("currency")
        .agg(F.count("*").alias("n"), money_sum("amount").alias("total_amount"))
    )


# --------------------------------------------------------------------------
# q32 — URL normalize + md5 hash (F13/F20) over synthesized URLs.
@_register(
    "q32_url_normalize_hash",
    """
    WITH urls AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 3 = 0
                    THEN 'www.example.com/customer/' || CAST(c_custkey AS VARCHAR)
                    WHEN c_custkey % 3 = 1
                    THEN 'https://shop.example.org/u/' || CAST(c_custkey AS VARCHAR)
                    ELSE 'not a url' END AS raw_url
        FROM customer
    ),
    normed AS (
        SELECT c_custkey,
               CASE WHEN regexp_matches(raw_url, '(?i)^https?://') THEN raw_url
                    WHEN raw_url IS NULL OR raw_url = '' THEN NULL
                    WHEN regexp_matches('https://' || raw_url, '(?i)^https?://[^\\s/]+\\.[^\\s/]+')
                         THEN 'https://' || raw_url
                    ELSE NULL END AS url
        FROM urls
    )
    SELECT COUNT(url) AS valid_urls,
           COUNT(*) - COUNT(url) AS invalid_urls,
           MIN(md5(url)) AS min_hash
    FROM normed
    """,
)
def q32_url_normalize_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    raw_url = (
        F.when(F.col("c_custkey") % 3 == 0, F.concat(F.lit("www.example.com/customer/"), F.col("c_custkey").cast("string")))
        .when(F.col("c_custkey") % 3 == 1, F.concat(F.lit("https://shop.example.org/u/"), F.col("c_custkey").cast("string")))
        .otherwise(F.lit("not a url"))
    )
    url = normalize_url(raw_url)
    return c.select(url.alias("url")).agg(
        F.count("url").alias("valid_urls"),
        (F.count("*") - F.count("url")).alias("invalid_urls"),
        F.min(url_hash(F.col("url"))).alias("min_hash"),
    )


# --------------------------------------------------------------------------
# q33 — sessionization via lag window: new session when gap > 30 min.
# Generalized W-coverage (sliding-analysis the engine adds beyond parity).
@_register(
    "q33_user_sessions",
    """
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    )
    SELECT user_id,
           CAST(SUM(new_session) AS BIGINT) AS session_count,
           COUNT(*) AS event_count
    FROM gaps
    GROUP BY user_id
    """,
)
def q33_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_session = F.when(
        prev.isNull() | (F.col("ts").cast("long") - prev.cast("long") > 1800), 1
    ).otherwise(0)
    return (
        e.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("long").alias("session_count"),
            F.count("*").alias("event_count"),
        )
    )


# --------------------------------------------------------------------------
# q34 — rollup (multi-granularity aggregate, SURVEY §2.4 note).
@_register(
    "q34_rollup_day_type",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, COUNT(*) AS n
    FROM events
    WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
    GROUP BY ROLLUP (day, event_type)
    """,
)
def q34_rollup_day_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.filter(F.col("ts") < F.lit("2024-01-08").cast("timestamp"))
        .rollup(F.date_format("ts", "yyyy-MM-dd").alias("day"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
# q35 — set operations: intersect / except on user sets (U2/U3 complete).
@_register(
    "q35_set_operations",
    """
    WITH buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    errorers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error'),
    both_ AS (SELECT user_id FROM buyers INTERSECT SELECT user_id FROM errorers),
    only_buy AS (SELECT user_id FROM buyers EXCEPT SELECT user_id FROM errorers)
    SELECT (SELECT COUNT(*) FROM buyers) AS buyers,
           (SELECT COUNT(*) FROM both_) AS buyers_with_errors,
           (SELECT COUNT(*) FROM only_buy) AS buyers_without_errors
    """,
)
def q35_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    buyers = e.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    errorers = e.filter(F.col("event_type") == "error").select("user_id").distinct()
    both = buyers.intersect(errorers)
    only_buy = buyers.exceptAll(errorers)
    # single plan / single action: three 1-row aggregates cross-joined, so
    # the events scan and the distinct exchanges are shared within one job
    # instead of three driver-side .count() round trips
    return (
        buyers.agg(F.count("*").alias("buyers"))
        .crossJoin(both.agg(F.count("*").alias("buyers_with_errors")))
        .crossJoin(only_buy.agg(F.count("*").alias("buyers_without_errors")))
    )


# --------------------------------------------------------------------------
# q36 — smoothed-ratio ranking (O4: learned-selector ordering,
# ventura_crawler.py:325-343: success/(success+failure+1) Laplace-ish).
@_register(
    "q36_smoothed_success_ranking",
    """
    WITH counts AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS successes,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS failures
        FROM events GROUP BY user_id
    )
    SELECT user_id, successes, failures,
           ROUND(CAST(successes AS DOUBLE) / (successes + failures + 1), 6) AS smoothed_rate
    FROM counts
    ORDER BY smoothed_rate DESC, successes DESC, user_id
    LIMIT 10
    """,
)
def q36_smoothed_success_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("successes"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("failures"),
    )
    rate = F.round(
        F.col("successes").cast("double") / (F.col("successes") + F.col("failures") + 1), 6
    )
    return (
        counts.withColumn("smoothed_rate", rate)
        .orderBy(F.col("smoothed_rate").desc(), F.col("successes").desc(), F.col("user_id"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# q40 — canonicalization groups (J5): elect one canonical row per candidate
# key, list the merged members (deduplication.merged_from_ids analog).
@_register(
    "q40_canonical_groups",
    """
    WITH keyed AS (
        SELECT *, user_id || '|' || event_type || '|' || strftime(ts, '%Y-%m-%d') AS ck
        FROM events
    ),
    ranked AS (
        SELECT ck, event_id,
               ROW_NUMBER() OVER (PARTITION BY ck ORDER BY value DESC, event_id ASC) AS rn,
               COUNT(*) OVER (PARTITION BY ck) AS n_members
        FROM keyed
    )
    SELECT ck AS candidate_key, event_id AS canonical_event_id, n_members
    FROM ranked WHERE rn = 1 AND n_members > 1
    """,
)
def q40_canonical_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ck = F.concat_ws(
        "|",
        F.col("user_id").cast("string"),
        F.col("event_type"),
        F.date_format("ts", "yyyy-MM-dd"),
    )
    keyed = e.withColumn("candidate_key", ck)
    elect = Window.partitionBy("candidate_key").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    members = Window.partitionBy("candidate_key")
    return (
        keyed.withColumn("rn", F.row_number().over(elect))
        .withColumn("n_members", F.count("*").over(members))
        .filter((F.col("rn") == 1) & (F.col("n_members") > 1))
        .select(
            "candidate_key",
            F.col("event_id").alias("canonical_event_id"),
            "n_members",
        )
    )


# --------------------------------------------------------------------------
# q37 — TTL-freshness predicate (S14: cached-if-fresh, ventura_crawler.py:260-287).
@_register(
    "q37_freshness_cache",
    """
    SELECT event_type,
           COUNT(*) AS total,
           CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-29 00:00:00' THEN 1 ELSE 0 END) AS BIGINT)
               AS fresh_rows
    FROM events
    GROUP BY event_type
    """,
)
def q37_freshness_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-29").cast("timestamp")
    return e.groupBy("event_type").agg(
        F.count("*").alias("total"),
        F.sum(F.when(F.col("ts") >= cutoff, 1).otherwise(0)).alias("fresh_rows"),
    )


# --------------------------------------------------------------------------
# q38 — JSON field-presence profile (A11: schema-drift report over the
# free-form props blob; health_report "field_distribution").
@_register(
    "q38_json_field_profile",
    """
    SELECT k AS field_name, COUNT(*) AS docs_with_field
    FROM (SELECT unnest(json_keys(props)) AS k FROM events)
    GROUP BY k
    """,
)
def q38_json_field_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(F.explode(F.json_object_keys("props")).alias("field_name"))
        .groupBy("field_name")
        .agg(F.count("*").alias("docs_with_field"))
    )


# --------------------------------------------------------------------------
# q39 — run-level metrics (A12: success_rate %, avg latency proxy,
# ScrapingMetrics ventura_crawler.py:90-117) over the events stream.
@_register(
    "q39_run_metrics",
    """
    SELECT ROUND(CAST(SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) * 100, 4) AS success_rate_pct,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value), 4)
               AS avg_value,
           COUNT(*) AS requests
    FROM events
    """,
)
def q39_run_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ok = F.sum(F.when(F.col("event_type") != "error", 1).otherwise(0))
    return e.agg(
        F.round(ok.cast("double") / F.count("*") * 100, 4).alias("success_rate_pct"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double") / F.count("value"), 4
        ).alias("avg_value"),
        F.count("*").alias("requests"),
    )


# --------------------------------------------------------------------------
# q61 — grouped exact quantiles (beyond-reference: the distribution-profile
# operator a data-quality / training-mix pipeline reports per slice).
# Spark's `percentile` and DuckDB's `quantile_cont` both compute the
# same linear interpolation (lo + (hi-lo)*frac on the sorted values), so
# the doubles agree bit-for-bit — no rounding needed. Exact percentile
# shuffles whole groups; at 100 TB swap in approx_percentile (t-digest,
# partial-aggregable) — same plan shape, bounded state, no oracle parity.
@_register(
    "q61_price_quantiles",
    """
    SELECT l_returnflag, l_linestatus,
           quantile_cont(l_extendedprice, 0.25) AS p25,
           quantile_cont(l_extendedprice, 0.50) AS p50,
           quantile_cont(l_extendedprice, 0.90) AS p90,
           quantile_cont(l_extendedprice, 0.99) AS p99,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q61_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = lambda q: F.expr(f"percentile(l_extendedprice, {q})")  # noqa: E731
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        p(0.25).alias("p25"),
        p(0.50).alias("p50"),
        p(0.90).alias("p90"),
        p(0.99).alias("p99"),
        F.count("*").alias("n"),
    )


# --------------------------------------------------------------------------
# q111 — the full ranking-function family over one window: ntile quartiles,
# percent_rank, cume_dist, dense_rank on per-user spend. Spark and DuckDB
# implement the same SQL-standard definitions (percent_rank = (rank-1)/
# (n-1), cume_dist = peers≤/n), so a ROUND(…, 6) on the two ratio columns
# gates them bit-for-bit; the tie-break on user_id makes row-dependent
# ntile deterministic.
@_register(
    "q111_ranking_family",
    """
    WITH spend AS (
        SELECT user_id, CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT user_id, cents,
           CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
           CAST(DENSE_RANK() OVER w AS INTEGER) AS drank,
           ROUND(PERCENT_RANK() OVER w, 6) AS prank,
           ROUND(CUME_DIST() OVER w, 6) AS cdist
    FROM spend
    WINDOW w AS (ORDER BY cents DESC, user_id)
    """,
)
def q111_ranking_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    spend = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.floor(F.col("value") * 100)).alias("cents"))
    )
    # distributed two-phase ranking family (operators/ranking.py, r6):
    # bit-identical to the single-window form, no one-task global sort
    from ..operators.ranking import with_global_ranks

    ranked = with_global_ranks(
        spend,
        [F.col("cents").desc(), F.col("user_id")],
        ["cents", "user_id"],
        dense_rank_col="drank",
        percent_rank_col="__prk",
        cume_dist_col="__cd",
        ntile=("quartile", 4),
    )
    return ranked.select(
        "user_id",
        "cents",
        "quartile",
        "drank",
        F.round(F.col("__prk"), 6).alias("prank"),
        F.round(F.col("__cd"), 6).alias("cdist"),
    )


# --------------------------------------------------------------------------
# q112 — CUBE with grouping_id: every aggregation granularity of
# (event_type, value band) in one pass, the grouping id disambiguating
# which dimensions each row aggregates away (q34 covers ROLLUP; CUBE
# completes the grouping-sets surface). Spark's grouping_id() bit order
# (first listed column = MOST significant bit) matches DuckDB's
# GROUPING(a, b).
@_register(
    "q112_cube_grouping_id",
    """
    SELECT event_type,
           CAST(floor(value / 100) AS INTEGER) AS band,
           CAST(GROUPING(event_type, CAST(floor(value / 100) AS INTEGER)) AS BIGINT)
               AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    GROUP BY CUBE (event_type, band)
    """,
)
def q112_cube_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    band = F.floor(F.col("value") / 100).cast("int")
    return (
        e.cube(F.col("event_type"), band.alias("band"))
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100)).alias("cents"),
        )
        .select("event_type", "band", "gid", "n", "cents")
    )


# --------------------------------------------------------------------------
# q120 — equi-DEPTH histogram: decile cut points from exact percentiles
# (Spark percentile() ≡ DuckDB quantile_cont() bit-for-bit — same linear
# interpolation, a proven parity), then every purchase value binned by
# "number of cuts strictly below it" (pure comparisons, no rounding
# games). The one-row cut array broadcasts; binning stays a narrow map;
# the count is one keyed aggregation. Complements the equi-WIDTH sketch
# family (q79/q94), which guesses a bin width up front.
_Q120_PCTS = [i / 10 for i in range(1, 10)]


@_register(
    "q120_equidepth_bins",
    f"""
    WITH v AS (SELECT value FROM events WHERE event_type = 'purchase'),
    cuts AS (SELECT quantile_cont(value, {_Q120_PCTS}) AS qs FROM v),
    b AS (
        SELECT CAST(1 + len(list_filter(cuts.qs, q -> v.value > q)) AS INTEGER) AS bin,
               v.value
        FROM v CROSS JOIN cuts
    )
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(value) AS lo, MAX(value) AS hi
    FROM b GROUP BY bin
    """,
)
def q120_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "purchase").select("value")
    cuts = v.agg(
        F.percentile("value", F.array(*[F.lit(p) for p in _Q120_PCTS])).alias("qs")
    )
    binned = v.crossJoin(F.broadcast(cuts)).select(
        (
            F.lit(1)
            + F.size(F.filter(F.col("qs"), lambda q: F.col("value") > q))
        ).cast("int").alias("bin"),
        "value",
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )


# --------------------------------------------------------------------------
# q123 — SKEW-HARDENED sessionization (operators/skew.py
# sessionize_two_phase, VERDICT r5 item 4) on a skew-INJECTED fixture:
# every even event_id is remapped to user 0, concentrating ~half of all
# events on one hot user — the bot-user shape that makes the q33
# single-window form a one-task straggler at scale. The engine runs the
# two-phase (key, time-block) variant: no task ever sees the hot user's
# full history (phase-1 partitions on (user, 30-min block); phase-2 runs
# over block summaries bounded by calendar time). The oracle is the NAIVE
# single-window sessionization over the same remapped stream — value-hash
# equality IS the equivalence proof, under the driver's gate.
@_register(
    "q123_skewed_sessionization",
    """
    WITH remapped AS (
        SELECT CASE WHEN event_id % 2 = 0 THEN 0 ELSE user_id END AS user_id,
               event_id, ts
        FROM events
    ),
    gaps AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM remapped
    )
    SELECT user_id,
           CAST(SUM(new_session) AS BIGINT) AS session_count,
           COUNT(*) AS event_count
    FROM gaps
    GROUP BY user_id
    """,
)
def q123_skewed_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import sessionize_two_phase

    e = load_table(spark, sf_dir, "events")
    skewed = e.withColumn(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, F.lit(0)).otherwise(F.col("user_id")),
    ).select("user_id", "event_id", "ts")
    return sessionize_two_phase(
        skewed, ["user_id"], "ts", gap_sec=1800, order_tiebreak=["event_id"]
    )


# --------------------------------------------------------------------------
# q125 — SKEW-HARDENED latest-per-key (operators/dedup.py
# latest_wins_agg) under the gate, on the q123 skew-injected fixture
# (every even event_id remapped to user 0 — one hot user with half the
# corpus). A single-window W3 form sorts a hot key in one task; the max_by
# aggregation collapses it to one candidate per map task before the
# shuffle. The oracle is the NAIVE single-window latest-wins over the same
# remapped stream — value-hash equality is the equivalence proof. Completes
# the gated skew family: q96 (joins), q123 (sessionization windows), q125
# (latest-wins).
@_register(
    "q125_skewed_latest_per_key",
    """
    WITH remapped AS (
        SELECT CASE WHEN event_id % 2 = 0 THEN 0 ELSE user_id END AS user_id,
               event_id, event_type, ts
        FROM events
    )
    SELECT user_id, event_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM remapped
    ) WHERE rn = 1
    """,
)
def q125_skewed_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16 (guide §2.3/§2.5): the skew-hardened W3 is now the max_by
    # AGGREGATION (operators/dedup.latest_wins_agg) — partial aggregation
    # collapses the hot key to one candidate per map task BEFORE the
    # shuffle, a finer-grained split than the previous explicit
    # 16-salt two-phase window (and one exchange instead of two; the
    # Q125_FLOOR_r16 adjudication measured that plan's extra stage as the
    # dominant term). dedup.latest_per_key is the any-order window form,
    # equality-pinned against this one in test_skew.
    from ..operators.dedup import latest_wins_agg

    e = load_table(spark, sf_dir, "events")
    skewed = e.withColumn(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, F.lit(0)).otherwise(F.col("user_id")),
    ).select("user_id", "event_id", "event_type", "ts")
    won = latest_wins_agg(skewed, ["user_id"], ["ts", "event_id"])
    return won.select(
        "user_id",
        "event_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
    )
