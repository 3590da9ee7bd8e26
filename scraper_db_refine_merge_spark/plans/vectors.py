"""Embedding similarity queries over the ``embeddings`` table.

Parity notes: dot products / norms accumulate in DOUBLE in array order on
both engines; similarities are rounded to 5 decimals before ranking so the
per-query ordering (sim desc, neighbor id asc) is a total order computed on
identical values. Centroids use exact DECIMAL sums (order-independent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import brute_force_near_dup_pairs, cosine_topk, ivf_topk, lsh_topk
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


_SQL_DOT = (
    "list_sum(list_transform(range(1, len(qv) + 1), "
    "i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))"
)
_SQL_QNORM = (
    "sqrt(list_sum(list_transform(range(1, len(qv) + 1), "
    "i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))"
)
_SQL_CNORM = (
    "sqrt(list_sum(list_transform(range(1, len(cv) + 1), "
    "i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))))"
)


# --------------------------------------------------------------------------
# q28 — brute-force cosine top-k: the ANN correctness baseline.
@_register(
    "q28_cosine_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id,
               ROUND({_SQL_DOT} / ({_SQL_QNORM} * {_SQL_CNORM}), 5) AS cosine_sim
        FROM q, c
        WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rn AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine_sim DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= 5
    """,
)
def q28_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    return cosine_topk(e, queries, k=5)


# --------------------------------------------------------------------------
# q29 — per-label centroids (exact decimal mean per dimension).
@_register(
    "q29_label_centroids",
    """
    SELECT label, pos,
           ROUND(CAST(SUM(CAST(val AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*), 6) AS centroid_val
    FROM (
        SELECT label,
               unnest(range(1, len(embedding) + 1)) AS pos,
               unnest(list_transform(embedding, e -> CAST(e AS DOUBLE))) AS val
        FROM embeddings
    )
    GROUP BY label, pos
    """,
)
def q29_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos0", "val"))
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(
            F.round(
                F.sum(F.col("val").cast("double").cast("decimal(18,12)")).cast("double")
                / F.count("*"),
                6,
            ).alias("centroid_val")
        )
    )


# --------------------------------------------------------------------------
# q30 — LSH-bucketed approximate top-k. Full oracle: the md5-derived
# hyperplanes are reproducible in DuckDB ('0x…'::UBIGINT ≡ Spark conv), so
# the bucket signatures — sign bits of sequential projections — mirror
# exactly, as do the candidate join and ranked verify.


def _sql_plane(p: int) -> str:
    """plane_p[d] in [-1,1): md5("{p}:{d}") top-8-hex / 2^32 * 2 - 1 (d = i-1)."""
    h = f"('0x' || substring(md5('{p}:' || CAST(i - 1 AS VARCHAR)), 1, 8))::UBIGINT"
    return f"({h} / 4294967296.0 * 2.0 - 1.0)"


_SQL_BUCKET = " || ".join(
    "(CASE WHEN list_sum(list_transform(range(1, len(embedding) + 1), "
    f"i -> CAST(embedding[i] AS DOUBLE) * {_sql_plane(p)})) >= 0 "
    "THEN '1' ELSE '0' END)"
    for p in range(8)
)


@_register(
    "q30_lsh_topk",
    f"""
    WITH cb AS (
        SELECT vec_id AS neighbor_id, embedding AS cv, {_SQL_BUCKET} AS bucket
        FROM embeddings
    ),
    qb AS (
        SELECT vec_id AS query_id, embedding AS qv, {_SQL_BUCKET} AS bucket
        FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               ROUND({_SQL_DOT} / ({_SQL_QNORM} * {_SQL_CNORM}), 5) AS cosine_sim
        FROM qb JOIN cb ON cb.bucket = qb.bucket AND neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rn AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine_sim DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= 5
    """,
)
def q30_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    return lsh_topk(e, queries, k=5)


# --------------------------------------------------------------------------
# q42 — embedding-cosine near-dup pairs, exact all-pairs baseline.
# Training-data dedup family: the embedding-space analog of q24/q25; the
# LSH-bucketed variant (cosine_near_dup_pairs) is the 100 TB path and is
# unit-tested against this result.
@_register(
    "q42_embedding_near_dup",
    f"""
    WITH pairs AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.embedding AS qv, b.embedding AS cv
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ),
    scored AS (
        SELECT a_id, b_id,
               ROUND({_SQL_DOT} / ({_SQL_QNORM} * {_SQL_CNORM}), 5) AS cosine_sim
        FROM pairs
    )
    SELECT a_id, b_id, cosine_sim FROM scored WHERE cosine_sim >= 0.4
    """,
)
def q42_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return brute_force_near_dup_pairs(e, threshold=0.4)


# --------------------------------------------------------------------------
# q55 — embedding-cosine near-dup pairs via multi-table LSH: the 100 TB
# path (VERDICT r1 item 1). Candidate generation is a bucket equi-join
# (OR-amplified over 4 independent 6-plane tables), verify is restricted to
# candidates — no all-pairs, no driver collect. The md5-derived planes
# mirror exactly in DuckDB (same construction q30 proved), so this carries
# a full value-hash oracle; q42's brute force stays as the recall baseline.

_ND_PLANES, _ND_TABLES, _ND_THRESHOLD = 6, 4, 0.4


def _sql_table_bucket(t: int, planes: int) -> str:
    """Mirror of hyperplane_bucket(vec, planes, table=t) with the 't|' prefix
    cosine_near_dup_pairs adds so buckets never collide across tables."""
    bits = " || ".join(
        "(CASE WHEN list_sum(list_transform(range(1, len(embedding) + 1), "
        f"i -> CAST(embedding[i] AS DOUBLE) * {_sql_plane(p)})) >= 0 "
        "THEN '1' ELSE '0' END)"
        for p in range(t * planes, (t + 1) * planes)
    )
    return f"('{t}|' || {bits})"


@_register(
    "q55_lsh_near_dup",
    f"""
    WITH b AS (
        SELECT vec_id AS vid,
               unnest([{", ".join(_sql_table_bucket(t, _ND_PLANES) for t in range(_ND_TABLES))}]) AS bucket
        FROM embeddings
    ),
    cand AS (
        SELECT DISTINCT a.vid AS a_id, c.vid AS b_id
        FROM b a JOIN b c ON a.bucket = c.bucket AND a.vid < c.vid
    ),
    pairs AS (
        SELECT cand.a_id, cand.b_id, ea.embedding AS qv, eb.embedding AS cv
        FROM cand
        JOIN embeddings ea ON ea.vec_id = cand.a_id
        JOIN embeddings eb ON eb.vec_id = cand.b_id
    ),
    scored AS (
        SELECT a_id, b_id,
               ROUND({_SQL_DOT} / ({_SQL_QNORM} * {_SQL_CNORM}), 5) AS cosine_sim
        FROM pairs
    )
    SELECT a_id, b_id, cosine_sim FROM scored WHERE cosine_sim >= {_ND_THRESHOLD}
    """,
)
def q55_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_near_dup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(
        e, threshold=_ND_THRESHOLD, num_planes=_ND_PLANES, num_tables=_ND_TABLES
    )


# --------------------------------------------------------------------------
# q43 — IVF-style approximate top-k: per-label centroids as the coarse
# quantizer, nprobe=2 cells probed per query. Deterministic end-to-end
# (exact-decimal centroids, rounded sims, total-order tie-breaks), so unlike
# q30 it carries a full SQL oracle.
@_register(
    "q43_ivf_topk",
    f"""
    WITH cent_long AS (
        SELECT label, pos,
               ROUND(CAST(SUM(CAST(val AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*), 6) AS cval
        FROM (
            SELECT label,
                   unnest(range(1, len(embedding) + 1)) AS pos,
                   unnest(list_transform(embedding, e -> CAST(e AS DOUBLE))) AS val
            FROM embeddings
        )
        GROUP BY label, pos
    ),
    cent AS (SELECT label, list(cval ORDER BY pos) AS cv FROM cent_long GROUP BY label),
    vc AS (
        SELECT vec_id, qv, label,
               ROUND({_SQL_DOT} / ({_SQL_QNORM} * {_SQL_CNORM}), 5) AS sim
        FROM (SELECT e.vec_id, e.embedding AS qv, c.label, c.cv
              FROM embeddings e CROSS JOIN cent c)
    ),
    cells AS (
        SELECT vec_id, qv AS v, label AS cell FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, label) AS rn
            FROM vc
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, qv, cell FROM (
            SELECT vec_id, qv, label AS cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, label) AS rn
            FROM vc WHERE vec_id < 5
        ) WHERE rn <= 2
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               ROUND({_SQL_DOT} / ({_SQL_QNORM} * {_SQL_CNORM}), 5) AS cosine_sim
        FROM (SELECT p.query_id, p.qv, a.vec_id AS neighbor_id, a.v AS cv
              FROM probes p JOIN cells a ON a.cell = p.cell AND a.vec_id <> p.query_id)
    )
    SELECT query_id, neighbor_id, cosine_sim, rn AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine_sim DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= 5
    """,
)
def q43_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    return ivf_topk(e, queries, k=5, nprobe=2)


# --------------------------------------------------------------------------
# q51 — deterministic k-means coarse quantizer (learned-centroid IVF):
# hash-priority seeds → 2 rounds of (assign by rounded cosine, exact-decimal
# mean update) → final cell profile. The oracle replays the identical
# iterations (generated CTE per round).

_KM_K, _KM_ITERS = 8, 2


def _sql_assign(cent_cte: str, out: str, src: str = "embeddings") -> str:
    return f"""
    {out} AS (
        SELECT vec_id, qv, cell FROM (
            SELECT vec_id, qv, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
            FROM (
                SELECT e.vec_id, e.embedding AS qv, c.cell, c.cv,
                       ROUND({_SQL_DOT} / ({_SQL_QNORM} * {_SQL_CNORM}), 5) AS sim
                FROM {src} e CROSS JOIN {cent_cte} c
            )
        ) WHERE rn = 1
    )"""


def _sql_update(assign_cte: str, out: str) -> str:
    return f"""
    {out} AS (
        SELECT cell, list(cval ORDER BY pos) AS cv FROM (
            SELECT cell, pos,
                   ROUND(CAST(SUM(CAST(val AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*), 6) AS cval
            FROM (
                SELECT cell,
                       unnest(range(1, len(qv) + 1)) AS pos,
                       unnest(list_transform(qv, x -> CAST(x AS DOUBLE))) AS val
                FROM {assign_cte}
            )
            GROUP BY cell, pos
        ) GROUP BY cell
    )"""


def _kmeans_ctes(train_src: str = "embeddings", final_src: str | None = None) -> str:
    """The shared CTE chain replaying kmeans_cells(k=_KM_K, iters=_KM_ITERS);
    ends with ``final`` = (vec_id, qv, cell). Reused by q51 and q138;
    ``train_src``/``final_src`` split train-vs-assign populations for the
    frozen-centroid incremental index (q141): centroids are fitted on
    ``train_src`` only, the final assignment covers ``final_src``."""
    parts = [
        f"""
    seeds AS (
        SELECT embedding,
               ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
        FROM {train_src}
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {_KM_K}
    )""",
        "cent0 AS (SELECT cell, embedding AS cv FROM seeds)",
    ]
    for i in range(_KM_ITERS):
        parts.append(_sql_assign(f"cent{i}", f"assign{i}", train_src))
        parts.append(_sql_update(f"assign{i}", f"cent{i + 1}"))
    parts.append(_sql_assign(f"cent{_KM_ITERS}", "final", final_src or train_src))
    return ",".join(parts)


def _kmeans_oracle() -> str:
    return f"""
    WITH {_kmeans_ctes()}
    SELECT cell, COUNT(*) AS n_vectors,
           MIN(vec_id) AS min_id, MAX(vec_id) AS max_id
    FROM final GROUP BY cell
    """


@_register("q51_kmeans_cells", _kmeans_oracle())
def q51_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import kmeans_cells

    e = load_table(spark, sf_dir, "embeddings")
    cells = kmeans_cells(e, k=_KM_K, iters=_KM_ITERS)
    return cells.groupBy("cell").agg(
        F.count("*").alias("n_vectors"),
        F.min("vec_id").alias("min_id"),
        F.max("vec_id").alias("max_id"),
    )


# --------------------------------------------------------------------------
# q127 — PRODUCT-QUANTIZATION ANN (operators/pq.py): 64-dim vectors
# compressed to 8 one-byte codes (16-codeword sampled codebook per
# subspace), queries answered by Asymmetric Distance Computation — the
# vector-COMPRESSION scale path the LSH/IVF family lacks (a 100 TB vector
# corpus becomes a ~3 TB code table; the ADC scan never reads vectors).
# Everything deterministic: md5-priority codebook sample, sequential-fold
# sub-distances (bit-identical doubles), ADC partials floored into integer
# micro-units BEFORE the order-independent BIGINT sum. Full SQL mirror.
_PQ_SUBS = "(SELECT unnest(range(0, 8)) AS s)"
_PQ_SLICE = "list_transform(range(s * 8 + 1, s * 8 + 9), i -> CAST(embedding[i] AS DOUBLE))"
_PQ_D2 = "list_sum(list_transform(range(1, 9), i -> (sv[i] - cbv[i]) * (sv[i] - cbv[i])))"


@_register(
    "q127_pq_adc_topk",
    f"""
    WITH seeds AS (
        SELECT embedding,
               ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT 16
    ),
    cb AS (
        SELECT j, s, {_PQ_SLICE} AS cbv
        FROM seeds CROSS JOIN {_PQ_SUBS}
    ),
    sub AS (
        SELECT vec_id, s, {_PQ_SLICE} AS sv
        FROM embeddings CROSS JOIN {_PQ_SUBS}
    ),
    dists AS (
        SELECT vec_id, s, j, {_PQ_D2} AS d2
        FROM sub JOIN cb USING (s)
    ),
    codes AS (
        SELECT vec_id, s, j AS code FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn
            FROM dists
        ) WHERE rn = 1
    ),
    lut AS (
        SELECT vec_id AS query_id, s, j,
               CAST(floor(d2 * 1000000 + 0.5) AS BIGINT) AS pd2
        FROM dists WHERE vec_id < 5
    ),
    scored AS (
        SELECT l.query_id, c.vec_id AS neighbor_id,
               CAST(SUM(l.pd2) AS BIGINT) AS adc_units
        FROM codes c JOIN lut l ON l.s = c.s AND l.j = c.code
        WHERE c.vec_id <> l.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_units, rn AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_units, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= 5
    """,
)
def q127_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import pq_adc_topk

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    return pq_adc_topk(e, queries, "vec_id", "embedding", k_neighbors=5)


# --------------------------------------------------------------------------
# q130 — IVF-PQ, the FAISS IVFADC shape (operators/pq.py ivf_pq_topk):
# per-label centroid cells (q43's coarse quantizer) + product quantization
# of RESIDUALS, queries probing nprobe=2 cells with per-cell query
# residuals, integer micro-unit ADC. Composition of two gated components
# — and the index that makes 100 TB of vectors a bucketed ~3 TB code
# table probed at nprobe/n_cells selectivity.
_PQ_RSLICE = "list_transform(range(s * 8 + 1, s * 8 + 9), i -> rv[i])"
_PQ_RD2 = "list_sum(list_transform(range(1, 9), i -> (sv[i] - cbv[i]) * (sv[i] - cbv[i])))"


@_register(
    "q130_ivf_pq_topk",
    f"""
    WITH cent_long AS (
        SELECT label, pos,
               ROUND(CAST(SUM(CAST(val AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*), 6) AS cval
        FROM (
            SELECT label,
                   unnest(range(1, len(embedding) + 1)) AS pos,
                   unnest(list_transform(embedding, e -> CAST(e AS DOUBLE))) AS val
            FROM embeddings
        )
        GROUP BY label, pos
    ),
    cent AS (SELECT label, list(cval ORDER BY pos) AS cv FROM cent_long GROUP BY label),
    vc AS (
        SELECT vec_id, qv, label, cv,
               ROUND({_SQL_DOT} / ({_SQL_QNORM} * {_SQL_CNORM}), 5) AS sim
        FROM (SELECT e.vec_id, e.embedding AS qv, c.label, c.cv
              FROM embeddings e CROSS JOIN cent c)
    ),
    cells AS (
        SELECT vec_id, qv AS v, label AS cell, cv FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, label) AS rn
            FROM vc
        ) WHERE rn = 1
    ),
    resid AS (
        SELECT vec_id, cell,
               list_transform(range(1, 65), i -> CAST(v[i] AS DOUBLE) - cv[i]) AS rv
        FROM cells
    ),
    seeds AS (
        SELECT rv, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j
        FROM resid
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT 16
    ),
    subs AS (SELECT unnest(range(0, 8)) AS s),
    cb AS (SELECT j, s, {_PQ_RSLICE.replace("rv[i]", "rv[i]")} AS cbv FROM seeds CROSS JOIN subs),
    sub AS (SELECT vec_id, cell, s, {_PQ_RSLICE} AS sv FROM resid CROSS JOIN subs),
    dists AS (SELECT vec_id, cell, s, j, {_PQ_RD2} AS d2 FROM sub JOIN cb USING (s)),
    codes AS (
        SELECT vec_id, cell, s, j AS code FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn
            FROM dists
        ) WHERE rn = 1
    ),
    qprob AS (
        SELECT vec_id AS query_id, qv, label AS cell, cv FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, label) AS rn
            FROM vc WHERE vec_id < 5
        ) WHERE rn <= 2
    ),
    qres AS (
        SELECT query_id, cell,
               list_transform(range(1, 65), i -> CAST(qv[i] AS DOUBLE) - cv[i]) AS rv
        FROM qprob
    ),
    qsub AS (SELECT query_id, cell, s, {_PQ_RSLICE} AS sv FROM qres CROSS JOIN subs),
    lut AS (
        SELECT query_id, cell, s, j,
               CAST(floor({_PQ_RD2} * 1000000 + 0.5) AS BIGINT) AS pd2
        FROM qsub JOIN cb USING (s)
    ),
    scored AS (
        SELECT l.query_id, c.vec_id AS neighbor_id,
               CAST(SUM(l.pd2) AS BIGINT) AS adc_units
        FROM codes c
        JOIN lut l ON l.cell = c.cell AND l.s = c.s AND l.j = c.code
        WHERE c.vec_id <> l.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_units, rn AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_units, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= 5
    """,
)
def q130_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import ivf_pq_topk

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    return ivf_pq_topk(e, queries, "vec_id", "embedding", "label", k_neighbors=5, nprobe=2)


# --------------------------------------------------------------------------
# q131 — INCREMENTAL PQ code index (operators/pq.py fold_pq_codes):
# vectors arrive in three batches (vec_id % 3); the codebook is trained on
# batch 0 and FROZEN, each batch encodes against it and appends an
# immutable codes part (manifest store — O(batch) commit I/O). The
# accumulated code TABLE content must equal one-shot encoding of the whole
# corpus under the batch-0 codebook — the oracle states that directly.
# Train-once/encode-forever is the production PQ lifecycle; re-fitting
# per batch would silently re-mean already-issued codes.
@_register(
    "q131_incremental_pq_codes",
    f"""
    WITH seeds AS (
        SELECT embedding,
               ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j
        FROM embeddings WHERE vec_id % 3 = 0
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT 16
    ),
    subs AS (SELECT unnest(range(0, 8)) AS s),
    cb AS (
        SELECT j, s, {_PQ_SLICE} AS cbv
        FROM seeds CROSS JOIN subs
    ),
    sub AS (
        SELECT vec_id, s, {_PQ_SLICE} AS sv
        FROM embeddings CROSS JOIN subs
    ),
    dists AS (SELECT vec_id, s, j, {_PQ_RD2} AS d2 FROM sub JOIN cb USING (s))
    SELECT vec_id, s, j AS code FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn
        FROM dists
    ) WHERE rn = 1
    """,
)
def q131_incremental_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..operators.pq import fold_pq_codes, pq_codes_from_index

    from ..streaming.store import store_compact

    e = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="q131_pq_")
    for i in range(3):
        fold_pq_codes(spark, root, e.filter(F.col("vec_id") % 3 == i), "vec_id", "embedding")
    store_compact(spark, root)  # r14: gate codes from the compacted index
    return pq_codes_from_index(spark, root)


# --------------------------------------------------------------------------
# q133 — TRAINED product quantization (operators/pq.py pq_codebook_trained):
# the q127 ADC pipeline with the codebook refined by 2 per-subspace Lloyd
# rounds (Jégou 2011 §III trains each subquantizer with k-means; the
# sampled codebook is the zero-training baseline). Every round is
# deterministic — raw sequential-fold d2 assignment with codeword-index
# tie-break, exact-DECIMAL per-dimension means rounded to 6, empty cells
# keep their previous codeword — so the oracle replays the identical
# iterations as generated CTEs. tests/test_pq.py additionally pins that
# the trained codebook's quantization error is STRICTLY below the sampled
# baseline's on the same corpus (the property training exists to buy).

_PQT_ITERS = 2


def _pq_trained_oracle() -> str:
    parts = [
        """
    subs AS (SELECT unnest(range(0, 8)) AS s),
    seeds AS (
        SELECT embedding,
               ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT 16
    )""",
        f"cb0 AS (SELECT j, s, {_PQ_SLICE} AS cbv FROM seeds CROSS JOIN subs)",
        f"sub AS (SELECT vec_id, s, {_PQ_SLICE} AS sv FROM embeddings CROSS JOIN subs)",
    ]
    for i in range(_PQT_ITERS):
        parts.append(
            f"d{i} AS (SELECT vec_id, s, j, {_PQ_RD2} AS d2 FROM sub JOIN cb{i} USING (s))"
        )
        parts.append(
            f"""
    asg{i} AS (
        SELECT vec_id, s, j FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn
            FROM d{i}
        ) WHERE rn = 1
    )"""
        )
        parts.append(
            f"""
    upd{i} AS (
        SELECT s, j, list(cval ORDER BY pos) AS cbv FROM (
            SELECT s, j, pos,
                   ROUND(CAST(SUM(CAST(val AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*), 6) AS cval
            FROM (
                SELECT a.s AS s, a.j AS j,
                       unnest(range(1, 9)) AS pos,
                       unnest(sub.sv) AS val
                FROM asg{i} a JOIN sub ON sub.vec_id = a.vec_id AND sub.s = a.s
            )
            GROUP BY s, j, pos
        ) GROUP BY s, j
    )"""
        )
        parts.append(
            f"""
    cb{i + 1} AS (
        SELECT c.s, c.j, COALESCE(u.cbv, c.cbv) AS cbv
        FROM cb{i} c LEFT JOIN upd{i} u ON u.s = c.s AND u.j = c.j
    )"""
        )
    fin = f"cb{_PQT_ITERS}"
    ctes = ",".join(parts)
    return f"""
    WITH {ctes},
    dists AS (SELECT vec_id, s, j, {_PQ_RD2} AS d2 FROM sub JOIN {fin} USING (s)),
    codes AS (
        SELECT vec_id, s, j AS code FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn
            FROM dists
        ) WHERE rn = 1
    ),
    lut AS (
        SELECT vec_id AS query_id, s, j,
               CAST(floor(d2 * 1000000 + 0.5) AS BIGINT) AS pd2
        FROM dists WHERE vec_id < 5
    ),
    scored AS (
        SELECT l.query_id, c.vec_id AS neighbor_id,
               CAST(SUM(l.pd2) AS BIGINT) AS adc_units
        FROM codes c JOIN lut l ON l.s = c.s AND l.j = c.code
        WHERE c.vec_id <> l.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_units, rn AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_units, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= 5
    """


@_register("q133_trained_pq_adc", _pq_trained_oracle())
def q133_trained_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import pq_adc_topk

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    return pq_adc_topk(
        e, queries, "vec_id", "embedding", k_neighbors=5, train_iters=_PQT_ITERS
    )


# --------------------------------------------------------------------------
# q158 — IVF-PQ with a TRAINED residual codebook (VERDICT r7/r9 item: plumb
# train_iters through ivf_pq_topk): the q130 pipeline with the residual
# codebook refined by 2 per-subspace Lloyd rounds. Residuals are exactly
# where k-means refinement pays most — FAISS trains IVFADC subquantizers on
# residuals (Jégou 2011 §IV-B) — and the oracle replays the identical
# deterministic iterations as generated CTEs over the residual subvectors
# (same machinery as q133, applied after the q130 cell-assignment prefix).
# tests/test_pq.py additionally pins that the trained RESIDUAL codebook's
# quantization error lands strictly below the sampled baseline's.


def _ivf_pq_trained_oracle() -> str:
    parts = [
        f"""
    cent_long AS (
        SELECT label, pos,
               ROUND(CAST(SUM(CAST(val AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*), 6) AS cval
        FROM (
            SELECT label,
                   unnest(range(1, len(embedding) + 1)) AS pos,
                   unnest(list_transform(embedding, e -> CAST(e AS DOUBLE))) AS val
            FROM embeddings
        )
        GROUP BY label, pos
    ),
    cent AS (SELECT label, list(cval ORDER BY pos) AS cv FROM cent_long GROUP BY label),
    vc AS (
        SELECT vec_id, qv, label, cv,
               ROUND({_SQL_DOT} / ({_SQL_QNORM} * {_SQL_CNORM}), 5) AS sim
        FROM (SELECT e.vec_id, e.embedding AS qv, c.label, c.cv
              FROM embeddings e CROSS JOIN cent c)
    ),
    cells AS (
        SELECT vec_id, qv AS v, label AS cell, cv FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, label) AS rn
            FROM vc
        ) WHERE rn = 1
    ),
    resid AS (
        SELECT vec_id, cell,
               list_transform(range(1, 65), i -> CAST(v[i] AS DOUBLE) - cv[i]) AS rv
        FROM cells
    ),
    subs AS (SELECT unnest(range(0, 8)) AS s),
    seeds AS (
        SELECT rv, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j
        FROM resid
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT 16
    )""",
        f"cb0 AS (SELECT j, s, {_PQ_RSLICE} AS cbv FROM seeds CROSS JOIN subs)",
        f"sub AS (SELECT vec_id, cell, s, {_PQ_RSLICE} AS sv FROM resid CROSS JOIN subs)",
    ]
    for i in range(_PQT_ITERS):
        parts.append(
            f"d{i} AS (SELECT vec_id, s, j, {_PQ_RD2} AS d2 FROM sub JOIN cb{i} USING (s))"
        )
        parts.append(
            f"""
    asg{i} AS (
        SELECT vec_id, s, j FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn
            FROM d{i}
        ) WHERE rn = 1
    )"""
        )
        parts.append(
            f"""
    upd{i} AS (
        SELECT s, j, list(cval ORDER BY pos) AS cbv FROM (
            SELECT s, j, pos,
                   ROUND(CAST(SUM(CAST(val AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*), 6) AS cval
            FROM (
                SELECT a.s AS s, a.j AS j,
                       unnest(range(1, 9)) AS pos,
                       unnest(sub.sv) AS val
                FROM asg{i} a JOIN sub ON sub.vec_id = a.vec_id AND sub.s = a.s
            )
            GROUP BY s, j, pos
        ) GROUP BY s, j
    )"""
        )
        parts.append(
            f"""
    cb{i + 1} AS (
        SELECT c.s, c.j, COALESCE(u.cbv, c.cbv) AS cbv
        FROM cb{i} c LEFT JOIN upd{i} u ON u.s = c.s AND u.j = c.j
    )"""
        )
    fin = f"cb{_PQT_ITERS}"
    ctes = ",".join(parts)
    return f"""
    WITH {ctes},
    dists AS (SELECT vec_id, cell, s, j, {_PQ_RD2} AS d2 FROM sub JOIN {fin} USING (s)),
    codes AS (
        SELECT vec_id, cell, s, j AS code FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn
            FROM dists
        ) WHERE rn = 1
    ),
    qprob AS (
        SELECT vec_id AS query_id, qv, label AS cell, cv FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, label) AS rn
            FROM vc WHERE vec_id < 5
        ) WHERE rn <= 2
    ),
    qres AS (
        SELECT query_id, cell,
               list_transform(range(1, 65), i -> CAST(qv[i] AS DOUBLE) - cv[i]) AS rv
        FROM qprob
    ),
    qsub AS (SELECT query_id, cell, s, {_PQ_RSLICE} AS sv FROM qres CROSS JOIN subs),
    lut AS (
        SELECT query_id, cell, s, j,
               CAST(floor({_PQ_RD2} * 1000000 + 0.5) AS BIGINT) AS pd2
        FROM qsub JOIN {fin} USING (s)
    ),
    scored AS (
        SELECT l.query_id, c.vec_id AS neighbor_id,
               CAST(SUM(l.pd2) AS BIGINT) AS adc_units
        FROM codes c
        JOIN lut l ON l.cell = c.cell AND l.s = c.s AND l.j = c.code
        WHERE c.vec_id <> l.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_units, rn AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_units, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= 5
    """


@_register("q158_ivf_pq_trained", _ivf_pq_trained_oracle())
def q158_ivf_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import ivf_pq_topk

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    return ivf_pq_topk(
        e,
        queries,
        "vec_id",
        "embedding",
        "label",
        k_neighbors=5,
        nprobe=2,
        train_iters=_PQT_ITERS,
    )


# --------------------------------------------------------------------------
# q138 — SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, public): k-means
# cluster the embeddings (q51's deterministic machinery), restrict the
# quadratic near-dup search to WITHIN each cluster, drop every vector with a
# smaller-id neighbor at cosine ≥ threshold in its cell. The cluster-bounded
# quadratic is SemDeDup's scale trick: k grows with the corpus so per-cell
# pair counts stay constant, and the cell equi-join buckets cleanly at
# 10^9 vectors where q42's exact all-pairs grid cannot run.

_SD_THRESHOLD = 0.4


def _semantic_dedup_oracle() -> str:
    return f"""
    WITH {_kmeans_ctes()},
    pairs AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.qv AS qv, b.qv AS cv
        FROM final a JOIN final b ON a.cell = b.cell AND a.vec_id < b.vec_id
    ),
    dropped AS (
        SELECT DISTINCT b_id FROM (
            SELECT b_id,
                   ROUND({_SQL_DOT} / ({_SQL_QNORM} * {_SQL_CNORM}), 5) AS sim
            FROM pairs
        ) WHERE sim >= {_SD_THRESHOLD}
    )
    SELECT f.vec_id, f.cell,
           CASE WHEN d.b_id IS NULL THEN 1 ELSE 0 END AS kept
    FROM final f LEFT JOIN dropped d ON f.vec_id = d.b_id
    """


@_register("q138_semantic_dedup", _semantic_dedup_oracle())
def q138_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import semantic_dedup

    e = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        e, k=_KM_K, iters=_KM_ITERS, threshold=_SD_THRESHOLD
    )


# --------------------------------------------------------------------------
# q141 — INCREMENTAL semantic-dedup index: q138's election maintained as a
# fold (operators/similarity.fold_semantic_index). Centroids train on batch
# 0 and freeze; each batch assigns its vectors, scores only new×(stored ∪
# new) pairs within cells, and appends losers to an append-only dropped
# log — commit I/O is O(batch), and the accumulated state equals the
# one-shot frozen-centroid election (the oracle states exactly that:
# k-means fitted on the batch-0 subset, assignment + election over the
# whole corpus).


def _semantic_index_oracle() -> str:
    return f"""
    WITH b0 AS (SELECT * FROM embeddings WHERE vec_id % 3 = 0),
    {_kmeans_ctes(train_src="b0", final_src="embeddings")},
    pairs AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.qv AS qv, b.qv AS cv
        FROM final a JOIN final b ON a.cell = b.cell AND a.vec_id < b.vec_id
    ),
    dropped AS (
        SELECT DISTINCT b_id FROM (
            SELECT b_id,
                   ROUND({_SQL_DOT} / ({_SQL_QNORM} * {_SQL_CNORM}), 5) AS sim
            FROM pairs
        ) WHERE sim >= {_SD_THRESHOLD}
    )
    SELECT f.vec_id, f.cell,
           CASE WHEN d.b_id IS NULL THEN 1 ELSE 0 END AS kept
    FROM final f LEFT JOIN dropped d ON f.vec_id = d.b_id
    """


@_register("q141_incremental_semantic_index", _semantic_index_oracle())
def q141_incremental_semantic_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..operators.similarity import fold_semantic_index, semantic_index_state

    from ..streaming.store import store_compact

    e = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="q141_sem_")
    for i in range(3):
        fold_semantic_index(
            spark,
            root,
            e.filter(F.col("vec_id") % 3 == i),
            k=_KM_K,
            iters=_KM_ITERS,
            threshold=_SD_THRESHOLD,
        )
    store_compact(spark, root)  # r14: gate state from the compacted index
    return semantic_index_state(spark, root)


# --------------------------------------------------------------------------
# q144 — MMR DIVERSIFIED top-k retrieval (Carbonell & Goldstein 1998): the
# re-ranking step RAG/retrieval pipelines run after ANN — greedily pick k
# results maximizing 0.7·relevance − 0.3·max-similarity-to-already-picked,
# so near-duplicate hits don't crowd the result list. Spark side is ONE
# JVM fold per query over a config-bounded C×C candidate matrix
# (operators/similarity.mmr_rerank — no per-step shuffle, no Python, no
# driver loop; 10^9 queries parallelize). The oracle unrolls the greedy
# loop into K chained CTEs of scalar list ops (the q106 q-digest unrolling
# precedent; list_reduce is BANNED — DuckDB 1.0 corrupts cross-row folds).
# Parity: rel/sim rounded to 5dp before any comparison, scores are
# identical IEEE arithmetic on identical doubles, +0.0 normalizes -0.0,
# ties break on candidate rank — a total order both engines compute alike.

_MMR_K = 8
_MMR_C = 20


def _mmr_oracle() -> str:
    pick = (
        "(list_sort(list_transform(rem, r -> {'s': "
        "-(CAST(0.7 AS DOUBLE) * rels[r] - CAST(0.3 AS DOUBLE) * "
        "(CASE WHEN len(ch) = 0 THEN CAST(0 AS DOUBLE) "
        "ELSE list_max(list_transform(ch, b -> mat[r][b])) END)) "
        "+ CAST(0 AS DOUBLE), 'r': r}))[1]).r"
    )
    steps = [
        "s0 AS (SELECT rl.query_id, rels, ids, mat, CAST([] AS INTEGER[]) AS ch, "
        "list_transform(range(1, len(rels) + 1), x -> CAST(x AS INTEGER)) AS rem "
        "FROM rels_t rl JOIN mat_t USING (query_id))"
    ]
    for i in range(1, _MMR_K + 1):
        steps.append(
            f"s{i} AS (SELECT query_id, rels, ids, mat, "
            f"list_append(ch, pick) AS ch, "
            f"list_filter(rem, rr -> rr <> pick) AS rem "
            f"FROM (SELECT *, {pick} AS pick FROM s{i - 1}))"
        )
    pair_dot = (
        "list_sum(list_transform(range(1, len(av) + 1), "
        "i -> CAST(av[i] AS DOUBLE) * CAST(bv[i] AS DOUBLE)))"
    )
    pair_an = (
        "sqrt(list_sum(list_transform(range(1, len(av) + 1), "
        "i -> CAST(av[i] AS DOUBLE) * CAST(av[i] AS DOUBLE))))"
    )
    pair_bn = (
        "sqrt(list_sum(list_transform(range(1, len(bv) + 1), "
        "i -> CAST(bv[i] AS DOUBLE) * CAST(bv[i] AS DOUBLE))))"
    )
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id,
               ROUND({_SQL_DOT} / ({_SQL_QNORM} * {_SQL_CNORM}), 5) AS rel
        FROM q, c WHERE neighbor_id <> query_id
    ),
    cand AS (
        SELECT query_id, neighbor_id, rel, rn FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY rel DESC, neighbor_id) AS rn
            FROM scored
        ) WHERE rn <= {_MMR_C}
    ),
    ce AS (
        SELECT cand.query_id, cand.rn, cand.neighbor_id, cand.rel, e.embedding AS v
        FROM cand JOIN embeddings e ON cand.neighbor_id = e.vec_id
    ),
    pair AS (
        SELECT a.query_id, a.rn AS a_rn, b.rn AS b_rn,
               ROUND({pair_dot} / ({pair_an} * {pair_bn}), 5) AS sim
        FROM (SELECT query_id, rn, v AS av FROM ce) a
        JOIN (SELECT query_id, rn, v AS bv FROM ce) b USING (query_id)
    ),
    rowsim AS (
        SELECT query_id, a_rn, list(sim ORDER BY b_rn) AS sims
        FROM pair GROUP BY query_id, a_rn
    ),
    rels_t AS (
        SELECT query_id, list(rel ORDER BY rn) AS rels,
               list(neighbor_id ORDER BY rn) AS ids
        FROM cand GROUP BY query_id
    ),
    mat_t AS (
        SELECT query_id, list(sims ORDER BY a_rn) AS mat
        FROM rowsim GROUP BY query_id
    ),
    {",".join(steps)}
    SELECT s.query_id, CAST(g.i AS INTEGER) AS pos,
           ids[ch[g.i]] AS neighbor_id, rels[ch[g.i]] AS relevance
    FROM s{_MMR_K} s, (SELECT unnest(range(1, {_MMR_K} + 1)) AS i) g
    """


@_register("q144_mmr_diversified_topk", _mmr_oracle())
def q144_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import mmr_rerank

    e = load_table(spark, sf_dir, "embeddings")
    return mmr_rerank(
        e, e.filter(F.col("vec_id") < 3), k=_MMR_K, n_candidates=_MMR_C
    )


# --------------------------------------------------------------------------
# q146 — ANN QUALITY EVALUATION: recall@k of the LSH index (q30's chain)
# against the exact brute-force top-k (q28's chain) — the metric every ANN
# deployment tracks before trusting an approximate index. Per query:
# |approx ∩ exact| / k in integer basis points ((10000·overlap) div
# n_exact — no float division to diverge), plus the raw counts. Scale
# shape: both sides are existing gated scale paths; the comparison is one
# (query_id, neighbor_id) equi-join + per-query count aggregation — eval
# cost is O(k·|queries|), independent of corpus size.
@_register(
    "q146_ann_recall_eval",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    escored AS (
        SELECT query_id, neighbor_id,
               ROUND({_SQL_DOT} / ({_SQL_QNORM} * {_SQL_CNORM}), 5) AS cosine_sim
        FROM q, c WHERE neighbor_id <> query_id
    ),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cosine_sim DESC, neighbor_id) AS rn
            FROM escored
        ) WHERE rn <= 5
    ),
    cb AS (
        SELECT vec_id AS neighbor_id, embedding AS cv, {_SQL_BUCKET} AS bucket
        FROM embeddings
    ),
    qb AS (
        SELECT vec_id AS query_id, embedding AS qv, {_SQL_BUCKET} AS bucket
        FROM embeddings WHERE vec_id < 5
    ),
    ascored AS (
        SELECT query_id, neighbor_id,
               ROUND({_SQL_DOT} / ({_SQL_QNORM} * {_SQL_CNORM}), 5) AS cosine_sim
        FROM qb JOIN cb ON cb.bucket = qb.bucket AND neighbor_id <> query_id
    ),
    approx AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cosine_sim DESC, neighbor_id) AS rn
            FROM ascored
        ) WHERE rn <= 5
    ),
    an AS (SELECT query_id, COUNT(*) AS n_approx FROM approx GROUP BY 1),
    per AS (
        SELECT e.query_id, COUNT(*) AS n_exact, COUNT(a.neighbor_id) AS n_overlap
        FROM exact e LEFT JOIN approx a
          ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
        GROUP BY e.query_id
    )
    SELECT per.query_id, per.n_exact,
           CAST(COALESCE(an.n_approx, 0) AS BIGINT) AS n_approx,
           per.n_overlap,
           (10000 * per.n_overlap) // per.n_exact AS recall_bp
    FROM per LEFT JOIN an ON per.query_id = an.query_id
    """,
)
def q146_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 5)
    exact = cosine_topk(e, qs, k=5).select("query_id", "neighbor_id")
    approx = lsh_topk(e, qs, k=5).select(
        "query_id", "neighbor_id", F.lit(1).alias("__hit")
    )
    an = approx.groupBy("query_id").agg(F.count("*").alias("n_approx"))
    per = (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_exact"), F.count("__hit").alias("n_overlap"))
    )
    return per.join(an, "query_id", "left").select(
        "query_id",
        "n_exact",
        F.coalesce(F.col("n_approx"), F.lit(0)).cast("bigint").alias("n_approx"),
        "n_overlap",
        F.expr("(10000 * n_overlap) div n_exact").alias("recall_bp"),
    )


# --------------------------------------------------------------------------
# q148 — TRUNCATED-DIMENSION retrieval evaluation (the Matryoshka/MRL
# deployment question, Kusupati et al. 2022, public): how much recall@k
# survives if retrieval runs on only the first 16 of 64 dimensions (4×
# cheaper scans, 4× smaller index)? Exact top-k on the prefix vs exact
# top-k on the full vector, compared per query in integer basis points —
# q146's eval shape with dimension truncation instead of LSH as the
# approximation under test. Truncation is slice(embedding, 1, 16) /
# embedding[1:16] — same elements, same fold order, both engines.
_TRUNC_DIMS = 16


@_register(
    "q148_truncated_dim_recall",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    escored AS (
        SELECT query_id, neighbor_id,
               ROUND({_SQL_DOT} / ({_SQL_QNORM} * {_SQL_CNORM}), 5) AS cosine_sim
        FROM q, c WHERE neighbor_id <> query_id
    ),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cosine_sim DESC, neighbor_id) AS rn
            FROM escored
        ) WHERE rn <= 5
    ),
    qt AS (SELECT vec_id AS query_id, embedding[1:{_TRUNC_DIMS}] AS qv
           FROM embeddings WHERE vec_id < 5),
    ct AS (SELECT vec_id AS neighbor_id, embedding[1:{_TRUNC_DIMS}] AS cv FROM embeddings),
    tscored AS (
        SELECT query_id, neighbor_id,
               ROUND({_SQL_DOT} / ({_SQL_QNORM} * {_SQL_CNORM}), 5) AS cosine_sim
        FROM qt, ct WHERE neighbor_id <> query_id
    ),
    trunc AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cosine_sim DESC, neighbor_id) AS rn
            FROM tscored
        ) WHERE rn <= 5
    )
    SELECT e.query_id, COUNT(*) AS n_exact, COUNT(t.neighbor_id) AS n_overlap,
           (10000 * COUNT(t.neighbor_id)) // COUNT(*) AS recall_bp
    FROM exact e LEFT JOIN trunc t
      ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
    GROUP BY e.query_id
    """,
)
def q148_truncated_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 5)
    et = e.select("vec_id", F.slice("embedding", 1, _TRUNC_DIMS).alias("embedding"))
    qst = qs.select("vec_id", F.slice("embedding", 1, _TRUNC_DIMS).alias("embedding"))
    exact = cosine_topk(e, qs, k=5).select("query_id", "neighbor_id")
    trunc = cosine_topk(et, qst, k=5).select(
        "query_id", "neighbor_id", F.lit(1).alias("__hit")
    )
    return (
        exact.join(trunc, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_exact"), F.count("__hit").alias("n_overlap"))
        .select(
            "query_id",
            "n_exact",
            "n_overlap",
            F.expr("(10000 * n_overlap) div n_exact").alias("recall_bp"),
        )
    )


# --------------------------------------------------------------------------
# q150 — per-cluster MEDOID election (cluster summarization / coreset
# seeding): within each k-means cell (q51's deterministic chain), the
# medoid is the member vector minimizing the sum of squared distances to
# every member — the representative a curation pipeline keeps when
# collapsing a cluster to one exemplar (the k-medoids assignment step).
#
# r12 REWRITE (the round's EXT dispersion flagged the old per-pair HOF
# fold at 8.5 s vs 0.45 s oracle): components quantize to integers FIRST
# (floor(x·10⁴) — float→double is exact and the double multiply is
# bit-identical on both engines), making every distance an EXACT integer,
# so the algebraic identity  Σ_b ‖a−b‖² = n·‖a‖² + Σ_b‖b‖² − 2·a·Σ_b b
# holds with NO rounding and no order sensitivity. The Spark side computes
# the per-cell moments (n, S1 = component sums, S2 = Σ norms²) in ONE
# linear pass — O(members·dim) instead of the O(members²·dim) pair join —
# while the ORACLE keeps the explicit all-pairs enumeration: hash equality
# PROVES the identity rewrite against direct quadratic evaluation.
# Per-element products stay inside BIGINT (|q| ≤ 10⁴ ⇒ d²(a,b) ≤ 2.6e10
# at dim 64; dot terms ≤ |q|·|S1| — fine to ~10⁹-member cells); cross-row
# sums accumulate in DECIMAL(38,0), output cast BIGINT. Argmin ties break
# on vector id.
@_register(
    "q150_cluster_medoids",
    f"""
    WITH {_kmeans_ctes()},
    qf AS (
        SELECT cell, vec_id,
               list_transform(qv, x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0)
                                            AS BIGINT)) AS q
        FROM final
    ),
    p AS (
        SELECT a.cell, a.vec_id AS a_id,
               list_sum(list_transform(range(1, len(a.q) + 1),
                    i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i]))) AS d2
        FROM qf a JOIN qf b ON a.cell = b.cell
    ),
    s AS (
        SELECT cell, a_id, CAST(SUM(d2) AS BIGINT) AS sum_d2q,
               CAST(COUNT(*) AS BIGINT) AS n_vectors
        FROM p GROUP BY 1, 2
    )
    SELECT cell, a_id AS medoid_id, n_vectors, sum_d2q
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY cell
                                     ORDER BY sum_d2q, a_id) AS rn
        FROM s
    ) WHERE rn = 1
    """,
)
def q150_cluster_medoids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import topk_per_group
    from ..operators.similarity import _to_double, kmeans_cells

    e = load_table(spark, sf_dir, "embeddings")
    cells = kmeans_cells(e, k=_KM_K, iters=_KM_ITERS).select(
        "vec_id", _to_double(F.col("embedding")).alias("v"), "cell"
    )
    q = cells.selectExpr(
        "cell",
        "vec_id AS a_id",
        "transform(v, x -> CAST(floor(x * 10000.0D) AS BIGINT)) AS q",
    ).selectExpr(
        "cell",
        "a_id",
        "q",
        # per-row ‖q‖²: ≤ 64·(1.2e4)² ≈ 9e9 — BIGINT-safe per row
        "aggregate(q, CAST(0 AS BIGINT), (acc, x) -> acc + x * x) AS normsq",
    )
    # three consumers (S1, stats, the final join) — persist or the whole
    # kmeans Lloyd chain upstream re-executes per consumer (measured 3.9 s
    # vs 1.4 s at sf0.1); |q| = corpus rows × (dim+3) cols, the same class
    # every index build here persists. Tracked: _cache.release_caches().
    from ..operators._cache import persist_tracked

    q = persist_tracked(q)
    # per-cell moments in one linear pass: S1 (per-component sums, via
    # posexplode → groupBy — BIGINT per component), S2 and n
    s1 = (
        q.selectExpr("cell", "posexplode(q) AS (pos, qx)")
        .groupBy("cell", "pos")
        .agg(F.expr("CAST(SUM(qx) AS DECIMAL(38,0))").alias("s1"))
        .groupBy("cell")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, s1))), e -> e.s1)"
            ).alias("s1_arr")
        )
    )
    stats = q.groupBy("cell").agg(
        F.count("*").alias("n_vectors"),
        F.expr("SUM(CAST(normsq AS DECIMAL(38,0)))").alias("s2"),
    )
    # the identity, all-DECIMAL(38,0) exact: n·‖qa‖² + S2 − 2·(qa·S1)
    s = (
        q.join(F.broadcast(s1), "cell")
        .join(F.broadcast(stats), "cell")
        .selectExpr(
            "cell",
            "a_id",
            "n_vectors",
            "CAST(n_vectors AS DECIMAL(38,0)) * CAST(normsq AS DECIMAL(38,0))"
            " + s2"
            " - 2 * aggregate(zip_with(q, s1_arr, (x, y) -> CAST(x AS DECIMAL(38,0)) * y),"
            "                 CAST(0 AS DECIMAL(38,0)), (acc, x) -> acc + x)"
            " AS tot",
        )
    )
    return topk_per_group(
        s, ["cell"], [], 1, rank_col="__rn", order_sql="tot ASC, a_id ASC"
    ).selectExpr(
        "cell",
        "a_id AS medoid_id",
        "CAST(n_vectors AS BIGINT) AS n_vectors",
        "CAST(tot AS BIGINT) AS sum_d2q",
    )


# --------------------------------------------------------------------------
# q160 — OUTPUT-CAPPED embedding-cosine LSH near-dup pairs (VERDICT r12
# item 4): q55's multi-table pipeline with capped candidate generation —
# within each bucket a vector pairs only with its 3 id-ordered successors
# (≤ c·3·tables candidates per dup-clique of size c instead of c²/2, the
# uncapped emitter's measured ~quadratic pair growth on replicated
# corpora). Successor chains keep a clique CC-connected when < m
# verification-failing bucket colliders interleave between consecutive
# members in at least one table. The oracle mirrors the cap as a
# per-bucket ROW_NUMBER difference bound over the identical md5-derived
# buckets.
#
# r14 (VERDICT r13 item 1): num_planes="auto" — the signature width is a
# FUNCTION OF THE CORPUS COUNT (adaptive_num_planes: smallest p ≥ 6 with
# n ≤ 8·2^p, capped at 24), so collider density per bucket stays ≈
# constant as the corpus grows instead of the static default silently
# entering the capped emitter's failure regime (RECALL_r13 measured the
# cliff: agreement 8750 bp at 2000 vectors under p=6, restored at p=8 —
# exactly what the occupancy-8 ladder picks). Adaptive mode indexes
# planes with stride 24 (table t, bit j → plane t·24+j), so a p-bit
# signature is a PREFIX of the full 24-bit one — which lets THIS static
# SQL mirror a count-dependent width: the ladder is data (an integer
# comparison CASE over count(*)), and the bucket is built by a dynamic
# nested-lambda loop emitting exactly p sign bits per table.

_CAPND_SUCCESSORS = 3


def _sql_adaptive_planes() -> str:
    """Integer-comparison mirror of similarity.adaptive_num_planes —
    byte-for-byte the same ladder (occupancy 8, widths 6..24; no float
    log2 at branch boundaries)."""
    whens = " ".join(f"WHEN count(*) <= {8 << p} THEN {p}" for p in range(6, 24))
    return f"CASE {whens} ELSE 24 END"


# plane_(t*24+j)[d] for d = i-1 — _sql_plane with a DYNAMIC plane index
_SQL_DYN_PLANE = (
    "(('0x' || substring(md5(CAST(t * 24 + j AS VARCHAR) || ':' "
    "|| CAST(i - 1 AS VARCHAR)), 1, 8))::UBIGINT / 4294967296.0 * 2.0 - 1.0)"
)

_SQL_ADAPTIVE_BUCKET = f"""CAST(t AS VARCHAR) || '|' || list_aggregate(
             list_transform(range(0, (SELECT p FROM np)),
               j -> CASE WHEN list_sum(list_transform(range(1, len(embedding) + 1),
                      i -> CAST(embedding[i] AS DOUBLE) * {_SQL_DYN_PLANE}
                    )) >= 0 THEN '1' ELSE '0' END),
             'string_agg', '')"""


@_register(
    "q160_cosine_lsh_capped_pairs",
    f"""
    WITH np AS (
        SELECT {_sql_adaptive_planes()} AS p FROM embeddings
    ),
    b AS (
        SELECT vec_id AS vid,
               {_SQL_ADAPTIVE_BUCKET} AS bucket
        FROM embeddings, (SELECT unnest([{", ".join(str(t) for t in range(_ND_TABLES))}]) AS t) tables
    ),
    brn AS (
        SELECT vid, bucket,
               ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY vid) AS rn
        FROM b
    ),
    cand AS (
        SELECT DISTINCT a.vid AS a_id, c.vid AS b_id
        FROM brn a JOIN brn c
          ON a.bucket = c.bucket
         AND c.rn - a.rn BETWEEN 1 AND {_CAPND_SUCCESSORS}
    ),
    pairs AS (
        SELECT cand.a_id, cand.b_id, ea.embedding AS qv, eb.embedding AS cv
        FROM cand
        JOIN embeddings ea ON ea.vec_id = cand.a_id
        JOIN embeddings eb ON eb.vec_id = cand.b_id
    ),
    scored AS (
        SELECT a_id, b_id,
               ROUND({_SQL_DOT} / ({_SQL_QNORM} * {_SQL_CNORM}), 5) AS cosine_sim
        FROM pairs
    )
    SELECT a_id, b_id, cosine_sim FROM scored WHERE cosine_sim >= {_ND_THRESHOLD}
    """,
)
def q160_cosine_lsh_capped_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_near_dup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(
        e,
        threshold=_ND_THRESHOLD,
        num_planes="auto",
        num_tables=_ND_TABLES,
        max_bucket_successors=_CAPND_SUCCESSORS,
    )
