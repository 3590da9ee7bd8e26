"""Distinct-count sketches under the oracle gate (operators/sketches.py).

The gate verifies the sketch CONTENT bit-for-bit (registers, k-th hash,
exact decimal harmonic numerator), not merely the estimates — md5-derived
hashing makes KMV/HLL state identical across engines. q74/q75/q76.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.store import read_table
from ..operators.sketches import (
    CMS_DEPTH,
    CMS_WIDTH,
    HLL_M,
    KMV_K,
    cms_estimate,
    cms_registers,
    hll_registers,
    hll_summary,
    kmv_sketch,
)
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


_SQL_HASHED = "SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events"

_SQL_RHO = (
    "strpos(lpad(bin(('0x' || substr(h, 3, 15))::UBIGINT), 60, '0'), '1')"
)


def sql_regs(hashed_select: str) -> str:
    """DuckDB CTE fragment building HLL registers from any SELECT that
    yields (event_type, h=md5 hex) rows — shared by q75/q76/q77."""
    return f"""
    hashed AS ({hashed_select}),
    b AS (
        SELECT event_type,
               CAST(('0x' || substr(h, 1, 2))::UBIGINT % {HLL_M} AS INTEGER) AS bucket,
               CAST(CASE WHEN {_SQL_RHO} = 0 THEN 61 ELSE {_SQL_RHO} END AS INTEGER) AS rho
        FROM hashed
    ),
    regs AS (
        SELECT event_type, bucket, CAST(MAX(rho) AS INTEGER) AS max_rho
        FROM b GROUP BY 1, 2
    )
"""


_SQL_REGS = sql_regs(_SQL_HASHED)

_POW64 = "CAST('18446744073709551616' AS DECIMAL(21,0))"
_ALPHA_M2 = repr(0.7213 / (1.0 + 1.079 / HLL_M) * HLL_M * HLL_M)


# --------------------------------------------------------------------------
# q74 — KMV distinct sketch per event_type over user_id. The k-th smallest
# md5 is compared as a hex string — sketch state equality, not just the
# estimate.
@_register(
    "q74_kmv_distinct",
    f"""
    WITH hashed AS (SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events),
    ranked AS (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM hashed
    ),
    counts AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_distinct_hashes
               FROM hashed GROUP BY 1),
    kth AS (SELECT event_type, h AS kth_hash FROM ranked WHERE rn = {KMV_K})
    SELECT c.event_type, c.n_distinct_hashes, k.kth_hash,
           CASE WHEN k.kth_hash IS NULL THEN CAST(c.n_distinct_hashes AS DOUBLE)
                ELSE {float(KMV_K - 1)!r} /
                     (CAST(('0x' || substr(k.kth_hash, 1, 15))::UBIGINT AS DOUBLE)
                      / power(2.0, 60))
           END AS est_distinct
    FROM counts c LEFT JOIN kth k USING (event_type)
    """,
)
def q74_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return kmv_sketch(e, ["event_type"], "user_id", k=KMV_K)


# --------------------------------------------------------------------------
# q75 — the HLL register table itself: (event_type, bucket, max_rho).
# Element-wise MAX mergeability is what makes this the 100 TB distinct
# counter; the gate proves both engines build the same registers.
@_register(
    "q75_hll_registers",
    f"""
    WITH {_SQL_REGS}
    SELECT event_type, bucket, max_rho FROM regs
    """,
)
def q75_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return hll_registers(e, ["event_type"], "user_id", m=HLL_M)


# --------------------------------------------------------------------------
# q76 — HLL summary: exact DECIMAL harmonic numerator + raw estimate.
@_register(
    "q76_hll_estimate",
    f"""
    WITH {_SQL_REGS},
    g AS (
        SELECT event_type, COUNT(*) AS n_present,
               SUM(CAST(power(2, 64 - max_rho) AS DECIMAL(38,0))) AS sum_present
        FROM regs GROUP BY 1
    )
    SELECT event_type,
           CAST({HLL_M} - n_present AS INTEGER) AS n_zero_registers,
           CAST(CAST(sum_present + CAST({HLL_M} - n_present AS DECIMAL(10,0)) * {_POW64}
                AS DECIMAL(38,0)) AS VARCHAR) AS harmonic_numerator,
           {_ALPHA_M2} * CAST({_POW64} AS DOUBLE)
               / CAST(CAST(sum_present + CAST({HLL_M} - n_present AS DECIMAL(10,0))
                           * {_POW64} AS DECIMAL(38,0)) AS DOUBLE) AS raw_estimate
    FROM g
    """,
)
def q76_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    regs = hll_registers(e, ["event_type"], "user_id", m=HLL_M)
    s = hll_summary(regs, ["event_type"], m=HLL_M)
    # numerator as digit string: >2^63 decimals degrade to float64 in the
    # pandas layer both comparators run on; the string keeps it exact
    return s.withColumn("harmonic_numerator", F.col("harmonic_numerator").cast("string"))


def _sketch_replay(spark: SparkSession, sf_dir: str, row, sink, cols: list[str]) -> DataFrame:
    """Replay three user batches (ids, 2·ids, ids % 97, each user as
    ``row(u)``) through ``sink(landing, target, checkpoint)`` and return
    the final sketch state's ``cols``."""
    import os
    import tempfile

    from ..streaming.runner import drain, land_batches
    from .streamq import _harness_ids

    ids = _harness_ids(load_table(spark, sf_dir, "documents"))
    root = tempfile.mkdtemp(prefix="sketch_stream_")
    landing = os.path.join(root, "landing")
    users = [ids, [m * 2 for m in ids], [m % 97 for m in ids]]
    land_batches(landing, [[row(u) for u in us] for us in users])
    target = os.path.join(root, "state")
    drain(sink(landing, target, os.path.join(root, "ckpt")))
    return read_table(spark, target).select(*cols)


# --------------------------------------------------------------------------
# q77 — STREAMING HLL (streaming/sketch_stream.py): three JSON batches of
# user ids (full set / doubled ids / heavy-dup residues) replayed through
# foreachBatch MAX-merge; the final register table must equal the
# batch-built registers over the union — the oracle states that batch
# semantics directly. Mergeability under micro-batching is exactly what
# the gate proves here; per-batch idempotence is tested in
# tests/test_sketch_stream.py.
@_register(
    "q77_stream_hll",
    f"""
    WITH users AS (
        SELECT doc_id AS user_id FROM documents WHERE doc_id < 100000
        UNION ALL SELECT doc_id * 2 FROM documents WHERE doc_id < 100000
        UNION ALL SELECT doc_id % 97 FROM documents WHERE doc_id < 100000
    ),
    ev AS (
        SELECT user_id,
               CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS event_type
        FROM users
    ),
    {sql_regs("SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM ev")}
    SELECT event_type, bucket, max_rho FROM regs
    """,
)
def q77_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sketch_stream import stream_hll_registers

    return _sketch_replay(
        spark, sf_dir,
        lambda u: {"user_id": u, "event_type": "a" if u % 2 == 0 else "b"},
        lambda landing, target, ckpt: stream_hll_registers(
            spark, landing, target, ckpt, ["event_type"], "user_id",
            schema="user_id long, event_type string",
        ),
        ["event_type", "bucket", "max_rho"],
    )


# --------------------------------------------------------------------------
# q79 — mergeable histogram quantile sketch (operators/sketches.py
# histogram_sketch + histogram_quantiles): fixed-width bin counts per
# event_type over `value`, p50/p95 by in-bin linear interpolation. The
# arithmetic order is fixed on both sides so the estimates match
# bit-for-bit; mergeability (+) is unit-tested.
_HQ_W = 25.0


@_register(
    "q79_histogram_quantiles",
    f"""
    WITH hist AS (
        SELECT event_type, CAST(floor(value / {_HQ_W}) AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    cums AS (
        SELECT event_type, bin, n,
               CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum,
               CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
        FROM hist
    ),
    ex AS (
        SELECT event_type, bin, n, cum, total,
               unnest([CAST(0.5 AS DOUBLE), CAST(0.95 AS DOUBLE)]) AS q
        FROM cums
    ),
    cov AS (
        SELECT event_type, bin, n, cum, total, q,
               ROW_NUMBER() OVER (PARTITION BY event_type, q ORDER BY bin) AS rn
        FROM ex WHERE cum >= q * total
    )
    SELECT event_type, q,
           bin * {_HQ_W} + (q * total - (cum - n)) / n * {_HQ_W} AS est_value,
           total AS n_total
    FROM cov WHERE rn = 1
    """,
)
def q79_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import histogram_quantiles, histogram_sketch

    e = load_table(spark, sf_dir, "events")
    hist = histogram_sketch(e, ["event_type"], "value", width=_HQ_W)
    return histogram_quantiles(hist, ["event_type"], [0.5, 0.95], width=_HQ_W)


# --------------------------------------------------------------------------
# q83 — COUNT-MIN heavy hitters (operators/sketches.py cms_registers +
# cms_estimate): the mergeable frequency sketch. The gate verifies the
# full pipeline bit-for-bit: register cells (md5-derived buckets, summed
# counts), min-over-rows point estimates for every candidate key, and the
# deterministic top-10 by (estimate, key), with the exact count alongside
# to witness the upper-biased error. Merge-by-SUM is unit-tested in
# tests/test_sketches.py.
_CMS_ROWS = ", ".join(str(i) for i in range(CMS_DEPTH))


@_register(
    "q83_cms_heavy_hitters",
    f"""
    WITH rows_ AS (SELECT unnest([{_CMS_ROWS}]) AS row),
    cells AS (
        SELECT i.row AS row,
               CAST(('0x' || substring(md5(CAST(i.row AS VARCHAR) || ':' ||
                    CAST(e.user_id AS VARCHAR)), 1, 8))::UBIGINT % {CMS_WIDTH}
                    AS INTEGER) AS bucket
        FROM events e CROSS JOIN rows_ i
    ),
    regs AS (
        SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM cells GROUP BY 1, 2
    ),
    keys AS (SELECT DISTINCT user_id FROM events),
    probes AS (
        SELECT k.user_id, i.row AS row,
               CAST(('0x' || substring(md5(CAST(i.row AS VARCHAR) || ':' ||
                    CAST(k.user_id AS VARCHAR)), 1, 8))::UBIGINT % {CMS_WIDTH}
                    AS INTEGER) AS bucket
        FROM keys k CROSS JOIN rows_ i
    ),
    est AS (
        SELECT p.user_id, MIN(r.cnt) AS est_count
        FROM probes p JOIN regs r ON p.row = r.row AND p.bucket = r.bucket
        GROUP BY 1
    ),
    exact AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_count
        FROM events GROUP BY 1
    )
    SELECT e.user_id, e.est_count, x.true_count
    FROM est e JOIN exact x USING (user_id)
    ORDER BY e.est_count DESC, e.user_id
    LIMIT 10
    """,
)
def q83_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    regs = cms_registers(e, [], "user_id")
    keys = e.select("user_id").distinct()
    est = cms_estimate(regs, keys, "user_id")
    exact = e.groupBy("user_id").agg(F.count("*").alias("true_count"))
    return (
        est.join(exact, "user_id")
        .orderBy(F.col("est_count").desc(), F.col("user_id"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# q88 — STREAMING count-min (streaming/sketch_stream.py): three JSON
# batches of user ids replayed through foreachBatch SUM-merge with the
# batch-id exactly-once guard (SUM is not idempotent — the guard, not the
# algebra, is what makes replays safe; contrast q77's idempotent MAX).
# The final register table must equal the batch-built CMS over the union —
# the oracle states that batch semantics directly.
@_register(
    "q88_stream_cms",
    f"""
    WITH users AS (
        SELECT doc_id AS user_id FROM documents WHERE doc_id < 100000
        UNION ALL SELECT doc_id * 2 FROM documents WHERE doc_id < 100000
        UNION ALL SELECT doc_id % 97 FROM documents WHERE doc_id < 100000
    ),
    rows_ AS (SELECT unnest([{", ".join(str(i) for i in range(CMS_DEPTH))}]) AS row),
    cells AS (
        SELECT i.row AS row,
               CAST(('0x' || substring(md5(CAST(i.row AS VARCHAR) || ':' ||
                    CAST(u.user_id AS VARCHAR)), 1, 8))::UBIGINT % {CMS_WIDTH}
                    AS INTEGER) AS bucket
        FROM users u CROSS JOIN rows_ i
    )
    SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM cells GROUP BY 1, 2
    """,
)
def q88_stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sketch_stream import stream_cms_registers

    return _sketch_replay(
        spark, sf_dir,
        lambda u: {"user_id": u},
        lambda landing, target, ckpt: stream_cms_registers(
            spark, landing, target, ckpt, [], "user_id", schema="user_id long",
        ),
        ["row", "bucket", "cnt"],
    )


# --------------------------------------------------------------------------
# q91 — STREAMING KMV (streaming/sketch_stream.py): the third merge
# algebra in the family — union+distinct+re-top-k is IDEMPOTENT like
# HLL's MAX (the shared batch-id guard only skips redundant work), unlike
# CMS's SUM, which needs it. The final per-group k-smallest-hash state must equal the batch-built KMV
# over the union of all three replayed batches; the oracle ranks the
# distinct md5 hashes directly.
@_register(
    "q91_stream_kmv",
    f"""
    WITH users AS (
        SELECT doc_id AS user_id FROM documents WHERE doc_id < 100000
        UNION ALL SELECT doc_id * 2 FROM documents WHERE doc_id < 100000
        UNION ALL SELECT doc_id % 97 FROM documents WHERE doc_id < 100000
    ),
    hashed AS (
        SELECT DISTINCT
               CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS event_type,
               md5(CAST(user_id AS VARCHAR)) AS h
        FROM users
    ),
    ranked AS (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM hashed
    )
    SELECT event_type, h FROM ranked WHERE rn <= {KMV_K}
    """,
)
def q91_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sketch_stream import stream_kmv_hashes

    return _sketch_replay(
        spark, sf_dir,
        lambda u: {"user_id": u, "event_type": "a" if u % 2 == 0 else "b"},
        lambda landing, target, ckpt: stream_kmv_hashes(
            spark, landing, target, ckpt, ["event_type"], "user_id",
            schema="user_id long, event_type string",
        ),
        ["event_type", "h"],
    )


# --------------------------------------------------------------------------
# q94 — STREAMING histogram sketch (quantile state): fixed-width bin
# counts maintained by SUM-merge under the same batch-id guard as q88's
# CMS (sum algebra ⇒ replays must be guarded). Three batches of
# deterministic (event_type, value) rows derived from doc ids; the final
# bin table must equal the batch-built histogram over the union.
@_register(
    "q94_stream_histogram",
    """
    WITH users AS (
        SELECT doc_id AS user_id FROM documents WHERE doc_id < 100000
        UNION ALL SELECT doc_id * 2 FROM documents WHERE doc_id < 100000
        UNION ALL SELECT doc_id % 97 FROM documents WHERE doc_id < 100000
    ),
    vals AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS event_type,
               ((user_id * 7) % 500) + 0.5 AS value
        FROM users
    )
    SELECT event_type, CAST(floor(value / 25.0) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM vals GROUP BY 1, 2
    """,
)
def q94_stream_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sketch_stream import stream_histogram_sketch

    return _sketch_replay(
        spark, sf_dir,
        lambda u: {"event_type": "a" if u % 2 == 0 else "b", "value": ((u * 7) % 500) + 0.5},
        lambda landing, target, ckpt: stream_histogram_sketch(
            spark, landing, target, ckpt, ["event_type"], "value",
            schema="event_type string, value double", width=25.0,
        ),
        ["event_type", "bin", "n"],
    )


# --------------------------------------------------------------------------
# q106/q107 — q-digest: the mergeable RANK-ACCURATE quantile sketch
# (operators/sketches.py qdigest_*, VERDICT r4 item 6). Unlike the
# fixed-width histogram sketch (q79/q94) whose error is tied to an up-front
# bin width, the q-digest adapts: dense regions keep leaf-level nodes,
# sparse regions collapse into dyadic ancestors, size ~O(k) per group with
# rank error ≤ L·⌈N/k⌉. The whole pipeline is exact integer arithmetic, so
# the oracle mirrors the sketch CONTENT bit-for-bit (q106) — the 16
# deterministic bottom-up compression rounds are UNROLLED as 16 chained
# CTEs below — and the quantile estimates on top (q107).
from ..operators.sketches import (  # noqa: E402
    QD_K,
    QD_LEVELS,
    QD_U,
    _qd_level_sql,
    qdigest_quantiles,
    qdigest_sketch,
)


def _qd_compress_ctes(prefix: str, src: str) -> tuple[list[str], str]:
    """The q-digest compression as SQL text: per-group totals of ``src``
    (a (event_type, node, cnt) relation), then the L bottom-up sibling-merge
    rounds, all CTE names carrying ``prefix``. Returns (cte_list,
    final_name) where final has (event_type, __n, node, cnt). Mirrors
    operators/sketches.py qdigest_compress expression-for-expression."""
    parts = [
        f"""
    {prefix}tot AS MATERIALIZED (
        SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS __n FROM {src} GROUP BY 1
    ),
    {prefix}s0 AS MATERIALIZED (
        SELECT {src}.event_type, __n, node, cnt
        FROM {src} JOIN {prefix}tot USING (event_type)
    )"""
    ]
    prev = f"{prefix}s0"
    for j, lv in enumerate(range(QD_LEVELS, 0, -1), start=1):
        cur = f"{prefix}s{j}"
        lo, hi = 1 << lv, 1 << (lv + 1)
        parts.append(f"""
    {cur} AS MATERIALIZED (
        SELECT event_type, __n,
               CASE WHEN (node >= {lo} AND node < {hi}) AND sib_sum <= thr
                    THEN node // 2 ELSE node END AS node,
               CAST(SUM(cnt) AS BIGINT) AS cnt
        FROM (
            SELECT event_type, __n, node, cnt,
                   SUM(CASE WHEN node >= {lo} AND node < {hi} THEN cnt END)
                       OVER (PARTITION BY event_type, node // 2) AS sib_sum,
                   GREATEST(1, (__n + {QD_K} - 1) // {QD_K}) AS thr
            FROM {prev}
        )
        GROUP BY 1, 2, 3
    )""")
        prev = cur
    return parts, prev


def _qd_sketch_cte() -> str:
    """WITH-clause body computing the q-digest of events.value per
    event_type into CTE ``sk`` — shared by the q106 and q107 oracles."""
    parts = [
        f"""
    s0raw AS (
        SELECT event_type,
               {QD_U} + LEAST({QD_U - 1},
                   GREATEST(0, CAST(floor(value * 100) AS BIGINT))) AS node,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    )"""
    ]
    rounds, final = _qd_compress_ctes("", "s0raw")
    parts += rounds
    parts.append(f"""
    sk AS (SELECT event_type, __n, node, cnt FROM {final})""")
    return ",".join(parts)


def _q106_spark_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    scaled = e.select(
        "event_type",
        F.least(
            F.lit(QD_U - 1),
            F.greatest(F.lit(0), F.floor(F.col("value") * 100).cast("long")),
        ).alias("v"),
    )
    return qdigest_sketch(scaled, ["event_type"], "v")


@_register(
    "q106_qdigest_sketch",
    f"""
    WITH {_qd_sketch_cte()}
    SELECT event_type, node, cnt FROM sk
    """,
)
def q106_qdigest_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q106_spark_sketch(spark, sf_dir)


@_register(
    "q107_qdigest_quantiles",
    f"""
    WITH {_qd_sketch_cte()},
    lvl AS (
        SELECT event_type, node, cnt, __n, {_qd_level_sql('node')} AS lv FROM sk
    ),
    his AS (
        SELECT event_type, node, cnt, __n,
               (node - (1::BIGINT << lv) + 1) * (1::BIGINT << ({QD_LEVELS} - lv)) - 1 AS hi
        FROM lvl
    ),
    cum AS (
        SELECT event_type, node, cnt, __n, hi,
               SUM(cnt) OVER (PARTITION BY event_type ORDER BY hi, node) AS c
        FROM his
    ),
    sel AS (
        SELECT cum.event_type, qs.qpct, MIN(cum.hi) AS est_scaled, MIN(cum.__n) AS n_total
        FROM cum, (SELECT unnest([50, 95]) AS qpct) qs
        WHERE cum.c >= (qs.qpct * cum.__n + 99) // 100
        GROUP BY 1, 2
    )
    SELECT event_type, CAST(qpct AS DOUBLE) / 100 AS q,
           CAST(est_scaled AS DOUBLE) / 100 AS est_value,
           CAST(n_total AS BIGINT) AS n_total
    FROM sel
    """,
)
def q107_qdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    sk = _q106_spark_sketch(spark, sf_dir)
    est = qdigest_quantiles(sk, ["event_type"], [50, 95])
    return est.select(
        "event_type",
        (F.col("qpct").cast("double") / 100).alias("q"),
        (F.col("est_scaled").cast("double") / 100).alias("est_value"),
        F.col("n_total").cast("long").alias("n_total"),
    )


# --------------------------------------------------------------------------
# q108 — STREAMING q-digest (streaming/sketch_stream.py stream_qdigest):
# the fourth merge algebra in the streaming sketch family — per-node count
# SUM + deterministic recompression, guarded like CMS/histogram (SUM is not
# idempotent). The oracle replays the EXACT fold the guarded sink performs:
# compress(leaf(b0)); then for each later batch, compress its leaves,
# SUM-merge with the state, recompress — five full 16-round compressions,
# all machine-generated as chained CTEs, hash-matching the final sketch
# CONTENT bit-for-bit.
def _q108_oracle() -> str:
    parts = [
        f"""
    ids AS (SELECT doc_id AS m FROM documents WHERE doc_id < 100000),
    u0 AS (SELECT m AS u FROM ids),
    u1 AS (SELECT m * 2 AS u FROM ids),
    u2 AS (SELECT m % 97 AS u FROM ids)"""
    ]
    for i in range(3):
        parts.append(f"""
    leaf{i} AS MATERIALIZED (
        SELECT CASE WHEN u % 2 = 0 THEN 'a' ELSE 'b' END AS event_type,
               CAST({QD_U} + ((u * 7) % 500) * 100 + 50 AS BIGINT) AS node,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM u{i} GROUP BY 1, 2
    )""")
    ctes, state = _qd_compress_ctes("b0", "leaf0")
    parts += ctes
    for i in (1, 2):
        ci, fi = _qd_compress_ctes(f"b{i}", f"leaf{i}")
        parts += ci
        parts.append(f"""
    m{i} AS MATERIALIZED (
        SELECT event_type, node, CAST(SUM(cnt) AS BIGINT) AS cnt
        FROM (SELECT event_type, node, cnt FROM {state}
              UNION ALL SELECT event_type, node, cnt FROM {fi})
        GROUP BY 1, 2
    )""")
        gi, state = _qd_compress_ctes(f"g{i}", f"m{i}")
        parts += gi
    return f"""
    WITH {",".join(parts)}
    SELECT event_type, node, cnt FROM {state}
    """


@_register("q108_stream_qdigest", _q108_oracle())
def q108_stream_qdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sketch_stream import stream_qdigest

    return _sketch_replay(
        spark, sf_dir,
        lambda u: {"event_type": "a" if u % 2 == 0 else "b", "v": ((u * 7) % 500) * 100 + 50},
        lambda landing, target, ckpt: stream_qdigest(
            spark, landing, target, ckpt, ["event_type"], "v",
            schema="event_type string, v long",
        ),
        ["event_type", "node", "cnt"],
    )


# --------------------------------------------------------------------------
# q121 — KMV SET OPERATIONS (operators/sketches.py kmv_set_estimates):
# theta-sketch-style union/intersection distinct estimates for click vs
# purchase users from ONE merged k-smallest-hash sample — rho/k of the
# uniform hash sample lands in both sets, so intersection_est =
# rho/k · union_est. Sketch content (k-th hash, rho) and the IEEE
# estimate arithmetic are both mirrored exactly. Mirrors the engine's
# per-side k-minima truncation (ADVICE r5 — the merged ranked window sees
# ≤ 2k rows, never the corpus-sized distinct union); the k smallest of
# A∪B are a subset of the two k-minima sets, so the sketch and estimates
# are unaffected.
@_register(
    "q121_kmv_set_ops",
    f"""
    WITH ha AS (SELECT DISTINCT md5(CAST(user_id AS VARCHAR)) AS h
                FROM events WHERE event_type = 'click'
                ORDER BY h LIMIT {KMV_K}),
    hb AS (SELECT DISTINCT md5(CAST(user_id AS VARCHAR)) AS h
           FROM events WHERE event_type = 'purchase'
           ORDER BY h LIMIT {KMV_K}),
    u AS (
        SELECT COALESCE(ha.h, hb.h) AS h,
               CASE WHEN ha.h IS NULL THEN 0 ELSE 1 END AS in_a,
               CASE WHEN hb.h IS NULL THEN 0 ELSE 1 END AS in_b
        FROM ha FULL OUTER JOIN hb ON ha.h = hb.h
    ),
    ranked AS (SELECT *, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM u),
    kset AS (SELECT * FROM ranked WHERE rn <= {KMV_K}),
    agg AS (
        SELECT MAX(CASE WHEN rn = {KMV_K} THEN h END) AS kth_hash,
               SUM(in_a * in_b) AS rho,
               (SELECT COUNT(*) FROM u) AS n_merged_hashes
        FROM kset
    )
    SELECT CAST(n_merged_hashes AS BIGINT) AS n_merged_hashes, kth_hash,
           CASE WHEN kth_hash IS NULL THEN CAST(n_merged_hashes AS DOUBLE)
                ELSE {float(KMV_K - 1)!r} /
                     (CAST(('0x' || substr(kth_hash, 1, 15))::UBIGINT AS DOUBLE)
                      / power(2.0, 60)) END AS est_union,
           CAST(rho AS BIGINT) AS rho,
           CASE WHEN kth_hash IS NULL THEN CAST(rho AS DOUBLE)
                ELSE CAST(rho AS DOUBLE) / {float(KMV_K)!r}
                     * ({float(KMV_K - 1)!r} /
                        (CAST(('0x' || substr(kth_hash, 1, 15))::UBIGINT AS DOUBLE)
                         / power(2.0, 60))) END AS est_intersection
    FROM agg
    """,
)
def q121_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import kmv_set_estimates

    e = load_table(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click").select("user_id")
    b = e.filter(F.col("event_type") == "purchase").select("user_id")
    return kmv_set_estimates(a, b, "user_id", k=KMV_K)
