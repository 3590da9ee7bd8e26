"""Graph / iterative / versioned-store analytics under the oracle gate
(split out of plans/analytics.py at VERDICT r5 item 8):

- q98 fixed-point PageRank — an ITERATIVE algorithm gated bit-for-bit via
  exact scaled-BIGINT arithmetic;
- q102/q110/q116 incremental connected components over the crash-safe
  versioned store (operators/graph.py fold_components), plus TIME TRAVEL
  and CDC over its retained snapshots;
- q117 near-dup triangle counting (id-ordered equi-joins, no cartesian);
- q118/q119/q122 ordered-sequence funnel, top event paths, and
  gap-session path analysis (sessionized MATCH_RECOGNIZE-lite shapes,
  each one aggregate() pass per user/session — no self-joins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table

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
# q98 — PageRank under the gate: an ITERATIVE algorithm oracle-checked
# bit-for-bit. Floating-point PageRank cannot be gated (per-iteration sum
# order drifts in the last ulp and compounds); operators/graph.py
# pagerank_fixed_point runs in scaled BIGINT arithmetic (rank div outdeg,
# (15·r0) div 100 + (85·Σ) div 100 — all exact integer ops), so any
# engine/order produces identical bits. Graph: customer↔supplier
# transaction edges (both directions, so no dangling nodes); 2 unrolled
# iterations; top-20 by (rank, node).
@_register(
    "q98_pagerank_fixed_point",
    """
    WITH edges AS (
        SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                        's' || CAST(l.l_suppkey AS VARCHAR) AS dst
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        UNION
        SELECT DISTINCT 's' || CAST(l.l_suppkey AS VARCHAR),
                        'c' || CAST(o.o_custkey AS VARCHAR)
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    c1 AS (
        SELECT e.dst AS node,
               CAST(SUM(CAST(1000000000000 // n.n AS BIGINT) // d.outdeg) AS BIGINT) AS contrib
        FROM edges e JOIN deg d ON e.src = d.src, n
        GROUP BY 1
    ),
    r1 AS (
        SELECT nodes.node,
               CAST((15 * (1000000000000 // n.n)) // 100
                    + (85 * COALESCE(c1.contrib, 0)) // 100 AS BIGINT) AS r
        FROM nodes LEFT JOIN c1 ON nodes.node = c1.node, n
    ),
    c2 AS (
        SELECT e.dst AS node, CAST(SUM(r.r // d.outdeg) AS BIGINT) AS contrib
        FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
        GROUP BY 1
    ),
    r2 AS (
        SELECT nodes.node,
               CAST((15 * (1000000000000 // n.n)) // 100
                    + (85 * COALESCE(c2.contrib, 0)) // 100 AS BIGINT) AS r
        FROM nodes LEFT JOIN c2 ON nodes.node = c2.node, n
    )
    SELECT node, r AS rank_scaled FROM r2 ORDER BY r DESC, node LIMIT 20
    """,
)
def q98_pagerank_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank_fixed_point

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    ranks = pagerank_fixed_point(edges, iterations=2)
    return ranks.orderBy(F.col("rank_scaled").desc(), F.col("node")).limit(20)


# --------------------------------------------------------------------------
# q102 — INCREMENTAL connected components under the gate
# (operators/graph.py fold_components): three pair batches fold one at a
# time into a stored (node, component) assignment — batch 2 bridges the
# clusters created by batches 0 and 1, the hard merge case — and the final
# assignment must equal the recursive-CTE closure over the concatenated
# pair history. The store is a spanning forest, so each fold runs label
# propagation over nodes + new pairs, never the full pair log.
@_register(
    "q102_incremental_components",
    """
    WITH RECURSIVE base AS (
        SELECT d1.doc_id AS a, d2.doc_id AS b
        FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 2
        WHERE d1.doc_id % 10 = 0 AND d1.doc_id < 100000
        UNION ALL
        SELECT d1.doc_id + 4, d2.doc_id
        FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 6
        WHERE d1.doc_id % 10 = 0 AND d1.doc_id < 100000
        UNION ALL
        SELECT d1.doc_id + 2, d2.doc_id
        FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 4
        WHERE d1.doc_id % 10 = 0 AND d1.doc_id < 100000
    ),
    e AS (SELECT a AS s, b AS d FROM base UNION SELECT b, a FROM base),
    reach AS (
        SELECT s, d FROM e
        UNION
        SELECT r.s, e2.d FROM reach r JOIN e e2 ON r.d = e2.s
    ),
    lab AS (SELECT s AS node, least(s, MIN(d)) AS component FROM reach GROUP BY s)
    SELECT node, component FROM lab
    """,
)
def q102_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..operators.graph import fold_components
    from .streamq import _harness_ids

    d = load_table(spark, sf_dir, "documents")
    ids = set(_harness_ids(d))

    def pairs(offset_a, offset_b):
        return [
            (m + offset_a, m + offset_b)
            for m in ids
            if m % 10 == 0 and m + offset_a in ids and m + offset_b in ids
        ]

    batches = [pairs(0, 2), pairs(4, 6), pairs(2, 4)]
    target = os.path.join(tempfile.mkdtemp(prefix="q102_cc_"), "components")
    out = None
    for batch in batches:
        df = spark.createDataFrame(batch, "a_id long, b_id long")
        out = fold_components(spark, target, df)
    return out.select("node", "component")


# --------------------------------------------------------------------------
# q110 — TIME TRAVEL on the versioned component store: q102's three pair
# batches fold with keep_versions=3, then the query reads snapshot 2 —
# the assignment as it stood BEFORE the bridging batch merged the
# {m, m+2} and {m+4, m+6} clusters. Store snapshots are immutable dirs
# selected by one pointer (streaming/store.py), so "as of commit N" is a
# directory read, never a log replay; the oracle is the closure over the
# first two batches only.
@_register(
    "q110_component_store_time_travel",
    """
    WITH RECURSIVE base AS (
        SELECT d1.doc_id AS a, d2.doc_id AS b
        FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 2
        WHERE d1.doc_id % 10 = 0 AND d1.doc_id < 100000
        UNION ALL
        SELECT d1.doc_id + 4, d2.doc_id
        FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 6
        WHERE d1.doc_id % 10 = 0 AND d1.doc_id < 100000
    ),
    e AS (SELECT a AS s, b AS d FROM base UNION SELECT b, a FROM base),
    reach AS (
        SELECT s, d FROM e
        UNION
        SELECT r.s, e2.d FROM reach r JOIN e e2 ON r.d = e2.s
    ),
    lab AS (SELECT s AS node, least(s, MIN(d)) AS component FROM reach GROUP BY s)
    SELECT node, component FROM lab
    """,
)
def q110_component_store_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..operators.graph import fold_components
    from ..streaming.store import read_table
    from .streamq import _harness_ids

    d = load_table(spark, sf_dir, "documents")
    ids = set(_harness_ids(d))

    def pairs(offset_a, offset_b):
        return [
            (m + offset_a, m + offset_b)
            for m in ids
            if m % 10 == 0 and m + offset_a in ids and m + offset_b in ids
        ]

    batches = [pairs(0, 2), pairs(4, 6), pairs(2, 4)]
    target = os.path.join(tempfile.mkdtemp(prefix="q110_cc_"), "components")
    for batch in batches:
        df = spark.createDataFrame(batch, "a_id long, b_id long")
        fold_components(spark, target, df, keep_versions=3)
    return read_table(spark, target, version=2).select("node", "component")


# --------------------------------------------------------------------------
# q116 — CDC over store snapshots: the change feed between two committed
# versions of the incremental component store (q110's retention makes both
# readable). Fold batch 3 bridges two clusters, so the diff of v2 → v3 is
# exactly the set of nodes whose component changed (op U) plus nodes that
# batch 3 introduced (op I). A FULL OUTER join of two immutable snapshot
# dirs — CDC without a log, the complement of q104's apply-side. The
# oracle diffs the two recursive closures.
@_register(
    "q116_component_store_cdc",
    """
    WITH RECURSIVE base2 AS (
        SELECT d1.doc_id AS a, d2.doc_id AS b
        FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 2
        WHERE d1.doc_id % 10 = 0 AND d1.doc_id < 100000
        UNION ALL
        SELECT d1.doc_id + 4, d2.doc_id
        FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 6
        WHERE d1.doc_id % 10 = 0 AND d1.doc_id < 100000
    ),
    base3 AS (
        SELECT a, b FROM base2
        UNION ALL
        SELECT d1.doc_id + 2, d2.doc_id
        FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 4
        WHERE d1.doc_id % 10 = 0 AND d1.doc_id < 100000
    ),
    e2 AS (SELECT a AS s, b AS d FROM base2 UNION SELECT b, a FROM base2),
    e3 AS (SELECT a AS s, b AS d FROM base3 UNION SELECT b, a FROM base3),
    reach2 AS (
        SELECT s, d FROM e2
        UNION
        SELECT r.s, x.d FROM reach2 r JOIN e2 x ON r.d = x.s
    ),
    reach3 AS (
        SELECT s, d FROM e3
        UNION
        SELECT r.s, x.d FROM reach3 r JOIN e3 x ON r.d = x.s
    ),
    lab2 AS (SELECT s AS node, least(s, MIN(d)) AS component FROM reach2 GROUP BY s),
    lab3 AS (SELECT s AS node, least(s, MIN(d)) AS component FROM reach3 GROUP BY s)
    SELECT COALESCE(lab3.node, lab2.node) AS node,
           CASE WHEN lab2.node IS NULL THEN 'I'
                WHEN lab3.node IS NULL THEN 'D'
                ELSE 'U' END AS op,
           lab2.component AS old_component,
           lab3.component AS new_component
    FROM lab2 FULL OUTER JOIN lab3 ON lab2.node = lab3.node
    WHERE lab2.node IS NULL OR lab3.node IS NULL
       OR lab2.component IS DISTINCT FROM lab3.component
    """,
)
def q116_component_store_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..operators.graph import fold_components
    from ..streaming.store import read_table
    from .streamq import _harness_ids

    d = load_table(spark, sf_dir, "documents")
    ids = set(_harness_ids(d))

    def pairs(offset_a, offset_b):
        return [
            (m + offset_a, m + offset_b)
            for m in ids
            if m % 10 == 0 and m + offset_a in ids and m + offset_b in ids
        ]

    batches = [pairs(0, 2), pairs(4, 6), pairs(2, 4)]
    target = os.path.join(tempfile.mkdtemp(prefix="q116_cc_"), "components")
    for batch in batches:
        df = spark.createDataFrame(batch, "a_id long, b_id long")
        fold_components(spark, target, df, keep_versions=3)

    old = read_table(spark, target, version=2).select(
        F.col("node"), F.col("component").alias("old_component")
    )
    new = read_table(spark, target, version=3).select(
        F.col("node"), F.col("component").alias("new_component")
    )
    j = old.join(new, "node", "full_outer")
    return (
        j.filter(
            F.col("old_component").isNull()
            | F.col("new_component").isNull()
            | ~F.col("old_component").eqNullSafe(F.col("new_component"))
        )
        .select(
            "node",
            F.when(F.col("old_component").isNull(), "I")
            .when(F.col("new_component").isNull(), "D")
            .otherwise("U")
            .alias("op"),
            "old_component",
            "new_component",
        )
    )


# --------------------------------------------------------------------------
# q117 — triangle counting on the near-dup graph (the density diagnostic
# for dup clusters: triangles/cliques mean hard duplicates, stars mean
# template boilerplate). Canonical oriented form: each triangle a<b<c is
# counted ONCE by joining the a<b edge list to itself twice — two
# edge-keyed equi-joins, no explosion beyond true wedges.
@_register(
    "q117_neardup_triangles",
    """
    WITH toks AS (SELECT doc_id,
                         string_split(lower(regexp_replace(trim(text), '[\\s\\x0b]+', ' ', 'g')), ' ') AS t
                  FROM documents),
    shidx AS (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 3, 1))) AS i FROM toks),
    sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS shingle FROM shidx),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS intersection
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    e AS (
        SELECT i.a_id AS a, i.b_id AS b FROM inter i
        JOIN sizes sa ON i.a_id = sa.doc_id
        JOIN sizes sb ON i.b_id = sb.doc_id
        WHERE ROUND(CAST(i.intersection AS DOUBLE)
                    / CAST(sa.n + sb.n - i.intersection AS DOUBLE), 4) >= 0.2
    ),
    tri AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM e e1 JOIN e e2 ON e1.b = e2.a
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges
    FROM tri
    """,
)
def q117_neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    e = jaccard_pairs(d, "doc_id", "text", k=5, threshold=0.2).select(
        F.col("a_id").alias("a"), F.col("b_id").alias("b")
    )
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
    )
    return tri.agg(F.count("*").alias("n_triangles")).crossJoin(
        e.agg(F.count("*").alias("n_edges"))
    )


# --------------------------------------------------------------------------
# q118 — ordered-sequence funnel: users with click → error → purchase IN
# ORDER (not merely all three types present) — the relational form of
# sequence pattern matching (MATCH_RECOGNIZE's simple case).
# DEFAULT = SKEW-HARDENED (VERDICT r7): operators/skew.py
# funnel_two_phase — each (user, 30-min block) folds to a 4-int
# transition FUNCTION of the funnel automaton (fold composition is
# associative, so block splits cannot change the result), composed per
# user over calendar-bounded block summaries. NO task ever collects one
# user's full sequence, so a bot user with 10^8 events costs as many
# tasks as it has active blocks instead of one straggler holding a
# driver-sized array. The oracle mirrors the NAIVE single-sequence
# min-position chain — value-hash equality is the equivalence proof
# (same proof q135 runs on the deliberately skew-injected fixture).
@_register(
    "q118_ordered_funnel",
    # ORACLE NOTE (r7): originally a list_reduce fold of the funnel
    # automaton — rewritten because DuckDB 1.0.0's list_reduce leaks its
    # accumulator ACROSS ROWS under vectorized evaluation (reproduced:
    # 1944/5000 folds wrong, an all-zero list "reaching" stage 3; caught by
    # the q135 sf0.1 gate). This min-position chain is the same greedy
    # automaton in pure ANSI SQL: stage ≥ s iff stage-value s occurs after
    # the chain position of stage s-1 (earliest-match greediness is exactly
    # what the fold computed).
    """
    WITH ord AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ),
    s1 AS (SELECT user_id, MIN(rn) AS r1 FROM ord
           WHERE event_type = 'click' GROUP BY 1),
    s2 AS (SELECT o.user_id, MIN(o.rn) AS r2 FROM ord o JOIN s1 USING (user_id)
           WHERE o.event_type = 'error' AND o.rn > s1.r1 GROUP BY 1),
    s3 AS (SELECT o.user_id, MIN(o.rn) AS r3 FROM ord o JOIN s2 USING (user_id)
           WHERE o.event_type = 'purchase' AND o.rn > s2.r2 GROUP BY 1)
    SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS reached_click,
           CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS reached_error_after,
           CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS reached_purchase_after
    """,
)
def q118_ordered_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import funnel_two_phase

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    m = funnel_two_phase(
        e, ["user_id"], "ts", ["click", "error", "purchase"],
        val_col="event_type", block_sec=1800, order_tiebreak=["event_id"],
    )
    return m.agg(
        F.sum(F.when(F.col("stage") >= 1, 1).otherwise(0)).alias("reached_click"),
        F.sum(F.when(F.col("stage") >= 2, 1).otherwise(0)).alias("reached_error_after"),
        F.sum(F.when(F.col("stage") == 3, 1).otherwise(0)).alias("reached_purchase_after"),
    )


# --------------------------------------------------------------------------
# q119 — top event paths: the product-analytics "what do users actually
# do" query — per (user, day) the deterministically ordered event-type
# sequence joined into a path string, counted, top-20.
# DEFAULT = SKEW-HARDENED (VERDICT r7): the ordered per-(user, day)
# collect runs through operators/skew.py session_paths_two_phase with
# HOUR blocks and a gap wider than a day — every user-day is exactly one
# "session", but its path is built from per-(key, hour-block) FRAGMENTS
# stitched in block order, so a pathological user-day with 10^8 events
# spreads over up to 24 sort tasks instead of one straggler. The count is
# a second keyed aggregation on the (bounded-cardinality) path string.
# Oracle mirrors the naive single-collect form — hash equality is the
# equivalence proof (q134 runs the same proof on the skewed fixture).
@_register(
    "q119_top_event_paths",
    """
    WITH paths AS (
        SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
               array_to_string(list(event_type ORDER BY ts, event_id), '>') AS path
        FROM events GROUP BY 1, 2
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 20
    """,
)
def q119_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import session_paths_two_phase

    # r16 (guide §2.3 narrower types): the day is an INTERNAL grouping key —
    # never output — so group on the 4-byte DATE instead of a 10-char
    # string; to_date truncates in the same pinned-UTC session zone, and
    # the string ~26-byte UTF8String rode EVERY event row through the
    # sessionization shuffle.
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        "event_id",
        "event_type",
        "ts",
    )
    # gap 86400 > any within-day gap → exactly one session per (user, day);
    # hour blocks bound every sort task to one key-hour of events.
    sp = session_paths_two_phase(
        e, ["user_id", "day"], "ts", gap_sec=86400, val_col="event_type",
        block_sec=3600, order_tiebreak=["event_id"],
    )
    paths = sp.select(F.array_join("path", ">").alias("path"))
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# q122 — gap-session PATHS: 30-minute-gap sessionization composed with
# q119's ordered path strings — the real form of the product-analytics
# path query, where "session" is behavioral, not a calendar day. Output:
# top-20 session paths with session counts and the mean session length in
# events (exact integer ratio rounded once).
# DEFAULT = SKEW-HARDENED (VERDICT r7): operators/skew.py
# session_paths_two_phase — per-(user, 30-min block) path FRAGMENTS,
# session ids assigned over content-free fragment summaries bounded by
# calendar time, fragments stitched per session — no task ever sorts a
# hot user's full history (the single-window scale-killer). The oracle
# mirrors the naive lag → running-sum → collect form — hash equality is
# the equivalence proof (q134 runs it on the skew-injected fixture too).
@_register(
    "q122_session_paths",
    """
    WITH gaps AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    numbered AS (
        SELECT *,
               CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_id
        FROM gaps
    ),
    paths AS (
        SELECT user_id, session_id,
               array_to_string(list(event_type ORDER BY ts, event_id), '>') AS path,
               COUNT(*) AS n_events
        FROM numbered GROUP BY 1, 2
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
           ROUND(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 4) AS avg_events
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 20
    """,
)
def q122_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import session_paths_two_phase

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    sp = session_paths_two_phase(
        e, ["user_id"], "ts", gap_sec=1800, val_col="event_type",
        order_tiebreak=["event_id"],
    )
    paths = sp.select(F.array_join("path", ">").alias("path"), "n_events")
    return (
        paths.groupBy("path")
        .agg(
            F.count("*").alias("n_sessions"),
            F.round(F.sum("n_events").cast("double") / F.count("*"), 4).alias("avg_events"),
        )
        .orderBy(F.col("n_sessions").desc(), F.col("path"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# q134 — SKEW-HARDENED session paths (VERDICT r6 item 1): q122's
# gap-session path analysis on the q123 skew-injected fixture (every even
# event_id remapped to user 0 — one bot user with half the corpus), run
# through operators/skew.py session_paths_two_phase: per-(user, 30-min
# block) path FRAGMENTS, session ids assigned over content-free fragment
# summaries bounded by calendar time, fragments stitched per session — no
# task ever sorts the hot user's full history (the q118/q119/q122
# single-window scale-killer, now dead). The oracle is the NAIVE
# single-window sessionization + path collection over the same remapped
# stream — value-hash equality IS the equivalence proof.
@_register(
    "q134_skewed_session_paths",
    """
    WITH remapped AS (
        SELECT CASE WHEN event_id % 2 = 0 THEN 0 ELSE user_id END AS user_id,
               event_id, event_type, ts
        FROM events
    ),
    gaps AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM remapped
    ),
    numbered AS (
        SELECT *,
               CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_id
        FROM gaps
    ),
    paths AS (
        SELECT user_id, session_id,
               array_to_string(list(event_type ORDER BY ts, event_id), '>') AS path,
               COUNT(*) AS n_events
        FROM numbered GROUP BY 1, 2
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
           ROUND(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 4) AS avg_events
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 20
    """,
)
def q134_skewed_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import session_paths_two_phase

    e = load_table(spark, sf_dir, "events")
    skewed = e.withColumn(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, F.lit(0)).otherwise(F.col("user_id")),
    ).select("user_id", "event_id", "event_type", "ts")
    sp = session_paths_two_phase(
        skewed, ["user_id"], "ts", gap_sec=1800, val_col="event_type",
        order_tiebreak=["event_id"],
    )
    return (
        sp.select(F.array_join("path", ">").alias("path"), "n_events")
        .groupBy("path")
        .agg(
            F.count("*").alias("n_sessions"),
            F.round(F.sum("n_events").cast("double") / F.count("*"), 4).alias("avg_events"),
        )
        .orderBy(F.col("n_sessions").desc(), F.col("path"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# q135 — SKEW-HARDENED ordered funnel (VERDICT r6 item 1): q118's
# click → error → purchase in-order match on the q123 skew-injected
# fixture, run through operators/skew.py funnel_two_phase: each (user,
# 30-min block) folds to a 4-int transition FUNCTION of the funnel
# automaton (composition is associative, so block splits cannot change
# the result), composed per user over calendar-bounded summaries — the
# hot user's sequence is never collected whole. Oracle = the NAIVE
# whole-sequence fold over the same remapped stream.
@_register(
    "q135_skewed_ordered_funnel",
    # ORACLE NOTE (r7): list_reduce fold replaced by the ANSI min-position
    # chain — DuckDB 1.0.0's list_reduce corrupts folds across rows (see
    # q118's oracle note; THIS gate caught it at sf0.1, where the corrupt
    # oracle disagreed with both Spark and a scalar re-execution of its own
    # fold on its own correctly-ordered lists).
    """
    WITH remapped AS (
        SELECT CASE WHEN event_id % 2 = 0 THEN 0 ELSE user_id END AS user_id,
               event_id, event_type, ts
        FROM events
    ),
    ord AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM remapped
    ),
    s1 AS (SELECT user_id, MIN(rn) AS r1 FROM ord
           WHERE event_type = 'click' GROUP BY 1),
    s2 AS (SELECT o.user_id, MIN(o.rn) AS r2 FROM ord o JOIN s1 USING (user_id)
           WHERE o.event_type = 'error' AND o.rn > s1.r1 GROUP BY 1),
    s3 AS (SELECT o.user_id, MIN(o.rn) AS r3 FROM ord o JOIN s2 USING (user_id)
           WHERE o.event_type = 'purchase' AND o.rn > s2.r2 GROUP BY 1)
    SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS reached_click,
           CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS reached_error_after,
           CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS reached_purchase_after
    """,
)
def q135_skewed_ordered_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import funnel_two_phase

    e = load_table(spark, sf_dir, "events")
    skewed = e.withColumn(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, F.lit(0)).otherwise(F.col("user_id")),
    ).select("user_id", "event_id", "event_type", "ts")
    m = funnel_two_phase(
        skewed, ["user_id"], "ts", ["click", "error", "purchase"],
        val_col="event_type", block_sec=1800, order_tiebreak=["event_id"],
    )
    return m.agg(
        F.sum(F.when(F.col("stage") >= 1, 1).otherwise(0)).alias("reached_click"),
        F.sum(F.when(F.col("stage") >= 2, 1).otherwise(0)).alias("reached_error_after"),
        F.sum(F.when(F.col("stage") == 3, 1).otherwise(0)).alias("reached_purchase_after"),
    )
