"""Relational query catalog over the synthetic tables.

Each query maps one or more SURVEY §2 operators onto the driver's TPC-H-ish
tables (incl. SURVEY A1, O2 — q14 global stats, q19 multi-key sort); the
paired DuckDB oracle SQL lives in ``ORACLES`` under the same key.
Reference citations point into /root/reference for parity checking.

Scale notes (100 TB discipline):
- CONSTANT-size dimension joins (region: 5 rows, nation: 25 rows) are
  explicitly ``broadcast()`` — at production scale the fact side never
  shuffles for them. SF-growing relations (customer/supplier/part/orders)
  carry NO forced hint: AQE broadcasts while the measured size fits
  autoBroadcastJoinThreshold and falls back to a shuffle join beyond, so the
  same plan survives a 1000× scale-up (VERDICT r5 item 1);
- window dedup / top-k shuffles once on its partition key, the minimum possible;
- every aggregate uses exact decimal sums (see plans/_util.py) which is both
  the deterministic-parity choice and the no-drift choice for money at 1e12 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.pagination import paginate
from ..sources.tables import ensure_views, load_table
from ._util import (
    money_avg,
    money_sum,
    spark_disc_price_sum,
    spark_money_avg,
    spark_money_sum,
)

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
# q01 — pricing summary (TPC-H Q1 shape). SURVEY A4/A5/A9: multi-stat grouped
# aggregate with filter-before-aggregate (reference database/query_examples.py:146-163).
@_register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS sum_disc_price,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity), 4) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One spark.sql string (r11): the money_sum/money_avg Column helpers
    # stacked ~40% of q01's wall time into py4j plan construction; the
    # spark_* SQL forms in plans/_util.py are textually faithful to the
    # same exact-cents arithmetic, so values are bit-identical.
    v = ensure_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               {sum_qty} AS sum_qty,
               {sum_base} AS sum_base_price,
               {sum_disc} AS sum_disc_price,
               {avg_qty} AS avg_qty,
               {avg_disc} AS avg_disc,
               COUNT(*) AS count_order
        FROM {lineitem}
        WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """.format(
            lineitem=v["lineitem"],
            sum_qty=spark_money_sum("l_quantity"),
            sum_base=spark_money_sum("l_extendedprice"),
            sum_disc=spark_disc_price_sum("l_extendedprice", "l_discount"),
            avg_qty=spark_money_avg("l_quantity"),
            avg_disc=spark_money_avg("l_discount"),
        )
    )


# --------------------------------------------------------------------------
# q02 — revenue per nation. SURVEY J5/J6 equi-join + A7 grouped multi-agg
# (reference api_server.py:353-385 venue rollup shape). `customer` grows
# linearly with SF (~2-3% of corpus bytes — multi-TB at 100 TB), so it gets
# NO forced broadcast hint: AQE broadcasts while it fits and falls back to a
# shuffle join beyond (VERDICT r5 item 1). `nation` (25 rows) is genuinely
# constant-size and keeps the hint.
@_register(
    "q02_nation_revenue",
    """
    SELECT n.n_name AS nation,
           COUNT(*) AS order_count,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(o.o_totalprice), 2)
               AS avg_order_value
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q02_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("order_count"),
            money_sum("o_totalprice").alias("revenue"),
            money_avg("o_totalprice", 2).alias("avg_order_value"),
        )
    )


# --------------------------------------------------------------------------
# q03 — order priority counts in a date window. SURVEY P6 range predicate +
# A2-style count (reference query_july_vs_august.py:56-62).
@_register(
    "q03_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY o_orderpriority
    """,
)
def q03_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# --------------------------------------------------------------------------
# q04 — region revenue, 5-way star join (lineitem⨝orders⨝customer⨝nation⨝region).
# Constant-size dims (nation 25 rows, region 5 rows) broadcast; `customer`
# grows with SF so it carries NO forced hint — AQE decides per-SF (VERDICT r5
# item 1). At 100 TB the plan degrades gracefully to a shuffle join on
# o_custkey instead of OOMing the driver with a multi-TB broadcast.
# SURVEY J5/J6/A7.
@_register(
    "q04_region_revenue",
    """
    SELECT r.r_name AS region,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue,
           COUNT(*) AS lineitem_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q04_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two scale moves, no SF-growing hints anywhere:
    # 1. Pre-reduce the dimension chain to ONE slim (c_custkey, r_name)
    #    relation — nation⨝region is 25 rows (the only forced hints),
    #    folding it onto customer is a narrow map.
    # 2. EAGER AGGREGATION below the customer join: revenue/count are
    #    summed per o_custkey FIRST (map-side combine shrinks each task's
    #    output to its distinct custkeys), so the custkey exchange carries
    #    ≤|customers| partial rows instead of the whole fact table, and the
    #    cnr join runs on two customer-sized inputs — never a fact-sized
    #    shuffle on the dimension key, never a customer-sized broadcast.
    #    Exact: the 1e-4-dollar units (FLOOR(x*100+0.5) cents, the
    #    plans/_util.cents construction) are summed per custkey as BIGINT
    #    (r16, guide §2.3 narrower types: FLOOR already returns BIGINT, so
    #    the per-custkey partial sum runs on primitive longs inside codegen
    #    — measured 0.79 → 0.47 s noop at sf0.1 vs the DECIMAL(38,0) form.
    #    Provably overflow-safe: ≤ ~1e9 units/row × a schema-bounded
    #    ~70 lineitems/customer at ANY SF keeps per-key sums ~1e11 ≪ 2^63,
    #    and ANSI mode raises rather than wraps if that invariant ever
    #    broke) and re-summed per region as DECIMAL(38,0) — the cross-key
    #    sum IS corpus-sized, so it keeps the exact-decimal path
    #    (associative integer arithmetic, same value as the one-shot sum —
    #    oracle-gated). At 10^9+ fact rows the eager aggregation is the
    #    difference between shuffling the fact table and shuffling the
    #    customer dimension.
    # Built as ONE spark.sql string over memoized views (r11): the stacked
    # DataFrame-API construction was ~370 py4j round-trips ≈ 0.15 s/run —
    # the q25 driver-side cost class; the logical plan is identical.
    v = ensure_views(spark, sf_dir, ("lineitem", "orders", "customer", "nation", "region"))
    return spark.sql(
        """
        WITH nr AS (
            SELECT /*+ BROADCAST(r) */ n.n_nationkey, r.r_name
            FROM {nation} n JOIN {region} r ON n.n_regionkey = r.r_regionkey
        ),
        cnr AS (
            SELECT /*+ BROADCAST(nr) */ c.c_custkey, nr.r_name
            FROM {customer} c JOIN nr ON c.c_nationkey = nr.n_nationkey
        ),
        per_cust AS (
            SELECT o.o_custkey,
                   SUM(FLOOR(l.l_extendedprice * 100 + 0.5D)
                       * (100 - FLOOR(l.l_discount * 100 + 0.5D))) AS __rev_units,
                   COUNT(*) AS __n
            FROM {lineitem} l JOIN {orders} o ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_custkey
        )
        SELECT cnr.r_name AS region,
               CAST(SUM(CAST(__rev_units AS DECIMAL(38,0))) / 10000 AS DOUBLE) AS revenue,
               SUM(__n) AS lineitem_count
        FROM per_cust JOIN cnr ON per_cust.o_custkey = cnr.c_custkey
        GROUP BY cnr.r_name
        """.format(**v)
    )


# --------------------------------------------------------------------------
# q05 — customers with no orders: anti-join. SURVEY J9/U3 insert-if-absent
# semantics (reference ventura_crawler.py:386-398).
@_register(
    "q05_customers_without_orders",
    """
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    """,
)
def q05_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    recent = o.filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    return c.join(recent, c.c_custkey == recent.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# --------------------------------------------------------------------------
# q06 — customers with at least one big order: semi-join (EXISTS). SURVEY P10.
@_register(
    "q06_big_order_customers",
    """
    SELECT c.c_mktsegment, COUNT(*) AS customer_count
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice >= 400000.0)
    GROUP BY c.c_mktsegment
    """,
)
def q06_big_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") >= 400000.0)
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("customer_count"))
    )


# --------------------------------------------------------------------------
# q07 — histogram bucketing on part retail price. SURVEY A6 ($bucket,
# reference query_examples.py:187-201).
_Q07_CASE = """
    CASE WHEN p_retailprice < 925 THEN '900-925'
         WHEN p_retailprice < 950 THEN '925-950'
         WHEN p_retailprice < 975 THEN '950-975'
         ELSE '975+' END
"""


@_register(
    "q07_price_histogram",
    f"""
    SELECT {_Q07_CASE} AS bucket,
           COUNT(*) AS part_count,
           CAST(MIN(p_size) AS BIGINT) AS min_size,
           CAST(MAX(p_size) AS BIGINT) AS max_size
    FROM part
    GROUP BY bucket
    """,
)
def q07_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    bucket = (
        F.when(F.col("p_retailprice") < 925, "900-925")
        .when(F.col("p_retailprice") < 950, "925-950")
        .when(F.col("p_retailprice") < 975, "950-975")
        .otherwise("975+")
    )
    return p.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("part_count"),
        F.min("p_size").cast("long").alias("min_size"),
        F.max("p_size").cast("long").alias("max_size"),
    )


# --------------------------------------------------------------------------
# q08 — latest event per user: the canonical upsert/latest-wins window.
# SURVEY W3/J4 (reference data_migration.py:133-139 upsert semantics).
@_register(
    "q08_latest_event_per_user",
    """
    SELECT user_id, event_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def q08_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16 (guide §2.3): latest-wins as ONE aggregation — max_by over the
    # (ts, event_id) total order replaces Sort+Window+Sort with a partial
    # (map-side) hash aggregate; the exchange carries one candidate per
    # (key, task) and a hot user can never pool in one task. Row-identical
    # to the row_number window (operators/dedup.latest_wins_agg doc).
    from ..operators.dedup import latest_wins_agg

    e = load_table(spark, sf_dir, "events")
    won = latest_wins_agg(
        e.select("user_id", "event_id", "event_type", "ts"),
        ["user_id"],
        ["ts", "event_id"],
    )
    return won.select(
        "user_id",
        "event_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
    )


# --------------------------------------------------------------------------
# q09 — rank users by spend. SURVEY W4 ranked top-k (reference
# api_server.py:465-483 top venues) with deterministic exact-decimal spend.
@_register(
    "q09_user_spend_rank",
    """
    SELECT user_id, spend, DENSE_RANK() OVER (ORDER BY spend DESC) AS spend_rank
    FROM (
        SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS spend
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
    )
    """,
)
def q09_user_spend_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    spend = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(money_sum("value").alias("spend"))
    )
    # distributed two-phase global rank (operators/ranking.py, r6): a bare
    # Window.orderBy would pull every user through ONE task at scale
    from ..operators.ranking import with_global_ranks

    return with_global_ranks(
        spend, [F.col("spend").desc()], ["spend"], dense_rank_col="spend_rank"
    ).select("user_id", "spend", "spend_rank")


# --------------------------------------------------------------------------
# q10 — pagination: skip 40 / limit 20 over a total order. SURVEY P12/O5
# (reference api_server.py:280 .skip(skip).limit(limit)).
@_register(
    "q10_events_page_3",
    """
    SELECT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
    FROM events
    ORDER BY ts, event_id
    LIMIT 20 OFFSET 40
    """,
)
def q10_events_page_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    page = paginate(e, order_by=[F.col("ts").asc(), F.col("event_id").asc()], skip=40, limit=20)
    return page.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
    )


# --------------------------------------------------------------------------
# q11 — distinct values. SURVEY A3/U2 (reference mongo_queries.py:50-53
# distinct promoter names).
@_register(
    "q11_distinct_event_types",
    "SELECT DISTINCT event_type FROM events",
)
def q11_distinct_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select("event_type").distinct()


# --------------------------------------------------------------------------
# q12 — daily counts + distinct users. SURVEY A2/A3 tumbling-by-day
# (reference mongo_queries.py:55-66, event_stats_report.py:40-61).
@_register(
    "q12_daily_event_counts",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           COUNT(*) AS event_count,
           COUNT(DISTINCT user_id) AS unique_users
    FROM events
    GROUP BY day
    """,
)
def q12_daily_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16 (guide §2.3 narrower types): group on the 4-byte DATE and format
    # the ≤ |days| aggregated rows, instead of formatting every event row
    # and shuffling 10-char strings through BOTH exchanges of the
    # distinct-count plan. to_date and date_format truncate in the same
    # pinned-UTC session zone, so the day strings are identical.
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.to_date("ts").alias("__day"))
        .agg(
            F.count("*").alias("event_count"),
            F.countDistinct("user_id").alias("unique_users"),
        )
        .select(
            F.date_format("__day", "yyyy-MM-dd").alias("day"),
            "event_count",
            "unique_users",
        )
    )


# --------------------------------------------------------------------------
# q13 — conditional counters per group. SURVEY A5 ($sum $cond buckets,
# reference api_server.py:432-454 quality bands).
@_register(
    "q13_conditional_counters",
    """
    SELECT event_type,
           COUNT(*) AS total,
           CAST(SUM(CASE WHEN value >= 250.0 THEN 1 ELSE 0 END) AS BIGINT) AS high_value,
           CAST(SUM(CASE WHEN value >= 100.0 AND value < 250.0 THEN 1 ELSE 0 END) AS BIGINT) AS mid_value,
           CAST(SUM(CASE WHEN value < 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS low_value
    FROM events
    GROUP BY event_type
    """,
)
def q13_conditional_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = F.col("value")
    return e.groupBy("event_type").agg(
        F.count("*").alias("total"),
        F.sum(F.when(v >= 250.0, 1).otherwise(0)).alias("high_value"),
        F.sum(F.when((v >= 100.0) & (v < 250.0), 1).otherwise(0)).alias("mid_value"),
        F.sum(F.when(v < 100.0, 1).otherwise(0)).alias("low_value"),
    )


# --------------------------------------------------------------------------
# q14 — global multi-stat aggregate. SURVEY A4 ($group _id:None,
# reference query_examples.py:146-163).
@_register(
    "q14_global_stats",
    """
    SELECT COUNT(*) AS event_count,
           COUNT(DISTINCT user_id) AS user_count,
           CAST(MIN(value) AS DOUBLE) AS min_value,
           CAST(MAX(value) AS DOUBLE) AS max_value,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value), 4) AS avg_value
    FROM events
    """,
)
def q14_global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.agg(
        F.count("*").alias("event_count"),
        F.countDistinct("user_id").alias("user_count"),
        F.min("value").cast("double").alias("min_value"),
        F.max("value").cast("double").alias("max_value"),
        money_avg("value").alias("avg_value"),
    )


# --------------------------------------------------------------------------
# q15 — period comparison (week 1 vs week 2), the July-vs-August report shape.
# SURVEY P6 + A2 (reference database/query_july_vs_august.py:47-86).
@_register(
    "q15_week_comparison",
    """
    SELECT period,
           COUNT(*) AS event_count,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value), 4) AS avg_value,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases
    FROM (
        SELECT CASE WHEN ts < TIMESTAMP '2024-01-08 00:00:00' THEN 'week1' ELSE 'week2' END AS period, *
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'
    )
    GROUP BY period
    """,
)
def q15_week_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bounded = e.filter(
        (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-15").cast("timestamp"))
    )
    period = F.when(F.col("ts") < F.lit("2024-01-08").cast("timestamp"), "week1").otherwise("week2")
    return bounded.groupBy(period.alias("period")).agg(
        F.count("*").alias("event_count"),
        money_avg("value").alias("avg_value"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("purchases"),
    )


# --------------------------------------------------------------------------
# q16 — JSON-in-column decode. SURVEY S4 (reference etl_sqlite_to_mongo.py:81-86
# parses the event_data JSON blob per row).
@_register(
    "q16_props_json_decode",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           COUNT(*) AS event_count,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY k_bucket
    """,
)
def q16_props_json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy((k % 10).alias("k_bucket")).agg(
        F.count("*").alias("event_count"),
        money_sum("value").alias("total_value"),
    )


# --------------------------------------------------------------------------
# q17 — union of heterogeneous projections. SURVEY U1/J7 cross-source
# union-merge (reference etl_sqlite_to_mongo.py:166-193 + data_migration.py:162-197).
@_register(
    "q17_union_sources",
    """
    SELECT source, COUNT(*) AS n, COUNT(detail) AS with_detail
    FROM (
        SELECT 'errors' AS source, event_id, event_type AS detail FROM events WHERE event_type = 'error'
        UNION ALL
        SELECT 'signups' AS source, event_id, NULL AS detail FROM events WHERE event_type = 'signup'
    )
    GROUP BY source
    """,
)
def q17_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        F.lit("errors").alias("source"), "event_id", F.col("event_type").alias("detail")
    )
    signups = e.filter(F.col("event_type") == "signup").select(
        F.lit("signups").alias("source"), "event_id"
    )
    unioned = errors.unionByName(signups, allowMissingColumns=True)
    return unioned.groupBy("source").agg(
        F.count("*").alias("n"), F.count("detail").alias("with_detail")
    )


# --------------------------------------------------------------------------
# q18 — first event per user (positional-first semantics). SURVEY W1
# (reference schema_adapter_enhanced.py:677-678 headliner-by-position).
@_register(
    "q18_first_event_per_user",
    """
    SELECT user_id, event_type AS first_event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS first_ts
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def q18_first_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("first_event_type"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("first_ts"),
        )
    )


# --------------------------------------------------------------------------
# q19 — top-2 events by value per type: per-group top-k. SURVEY W4/A8.
@_register(
    "q19_top2_per_type",
    """
    SELECT event_type, event_id, value
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rn
        FROM events
    ) WHERE rn <= 2
    """,
)
def q19_top2_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("event_type", "event_id", "value")
    )


# --------------------------------------------------------------------------
# q20 — filter + project + sort + limit: the flagship GET /api/events shape.
# SURVEY P1/P6/P7/O1 (reference api_server.py:252-295).
@_register(
    "q20_api_events_listing",
    """
    SELECT event_id, user_id, event_type, value,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
    FROM events
    WHERE value >= 50.0
      AND ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND event_type IN ('purchase', 'click')
    ORDER BY ts, event_id
    LIMIT 50
    """,
)
def q20_api_events_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.filter(
            (F.col("value") >= 50.0)
            & (F.col("ts") >= F.lit("2024-01-10").cast("timestamp"))
            & (F.col("event_type").isin("purchase", "click"))
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        )
        .orderBy("ts_str", "event_id")
        .limit(50)
    )
