"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the correctness baseline; the scale path is
random-hyperplane LSH bucketing so candidate generation is an equi-join on
bucket signature instead of a full cross product.

Everything is built-in higher-order functions (``zip_with`` + ``aggregate``)
— JVM-side, no Python in the hot path. Dot products accumulate in DOUBLE
left-to-right, which is deterministic and engine-reproducible.

LSH hyperplanes are *derived from md5*, not a driver-side RNG: plane p,
dimension d gets component md5(p:'':d) mapped to [-1, 1). This keeps the
index fully deterministic (same buckets on any cluster, any partitioning) and
lets an external oracle reproduce it.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._cache import memo


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-to-right double dot product of two equal-length arrays."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


# Note on unrolling: replacing the zip_with/aggregate sums with flat
# per-element getItem arithmetic was tried and MEASURED SLOWER (5.4 s vs
# 3.2 s for the q55 pipeline at sf0.1; 24 planes × 64 dims unrolled into
# one projection even hit 2.6 MiB task binaries and a 5× slowdown). Spark's
# HOF evaluation over a primitive array beats a wall of getItem casts —
# keep the HOF forms; the win that matters is literal plane components
# (no per-row md5) below.


def cosine(a: Column, b: Column) -> Column:
    ad, bd = _to_double(a), _to_double(b)
    return dot(ad, bd) / (l2_norm(ad) * l2_norm(bd))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_scale: int = 5,
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (small) query set against the
    corpus, score every pair, keep k best per query.

    Per-query ordering is (rounded similarity desc, neighbor id asc) — a total
    order, so results are deterministic. At 100 TB the corpus side stays
    partitioned and never shuffles: the join is a broadcast nested loop and
    the only shuffle is the per-query top-k aggregation.
    """
    from pyspark.sql import Window

    from .dedup import spread_degenerate_scan

    # Degenerate-scan spread (r17, guide §2.5): a single-row-group corpus
    # scan serializes the per-pair scoring (|queries| HOF dot products per
    # corpus row) on one core; gate-repartitioned to defaultParallelism
    # only when the scan is degenerate (no-op on split corpus files at
    # scale). Measured q28 0.353 → 0.295 s min-of-5 interleaved. The two
    # VERDICT-r16 alternatives were BOTH measured and rejected same-load:
    # a 64-term unrolled dot product 0.354 → 0.554 (codegen/plan-build cost
    # per invocation dominates 10k pairs — the r5 task-binary gotcha
    # stands), and an Arrow pandas_udf np.einsum dot 0.353 → 0.487
    # (0.579 with the spread: worker startup × partitions, the r5
    # measurement reproduced).
    corpus = spread_degenerate_scan(corpus, id_col)

    # Norms are precomputed per vector on each side (corpus norm once per
    # corpus row, not once per (query, corpus) pair) — same expressions and
    # accumulation order as cosine(), so values are bit-identical, but the
    # per-pair work drops to one dot product. selectExpr strings (one JVM
    # parse each) over stacked F.*/lambda builders: identical Catalyst
    # expressions (`0.0D`-seeded left folds, the dot/l2_norm forms), ~5×
    # less driver-side construction time (r10 — the same py4j-round-trip
    # cost class measured on q25; see operators/dedup.word_shingles).
    norm_sql = (
        "sqrt(aggregate(transform(transform(`{v}`, x -> CAST(x AS DOUBLE)),"
        " x -> x * x), 0.0D, (acc, x) -> acc + x))"
    )
    q = queries.selectExpr(
        f"`{id_col}` AS query_id",
        f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE)) AS q_vec",
        norm_sql.format(v=vec_col) + " AS q_norm",
    )
    c = corpus.selectExpr(
        f"`{id_col}` AS neighbor_id",
        f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE)) AS c_vec",
        norm_sql.format(v=vec_col) + " AS c_norm",
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "neighbor_id",
            "round(aggregate(zip_with(q_vec, c_vec, (x, y) -> x * y), 0.0D,"
            f" (acc, x) -> acc + x) / (q_norm * c_norm), {round_scale})"
            " AS cosine_sim",
        )
    )
    # per-query top-k WITHOUT a per-query single-task sort: the scored set
    # is corpus-sized per query, so a bare partitionBy(query_id) window is
    # the straggler class ranking.py exists to kill (VERDICT r6 bench work)
    from .ranking import topk_per_group

    return topk_per_group(
        scored,
        ["query_id"],
        [],
        k,
        order_sql="cosine_sim DESC, neighbor_id ASC",
    ).select("query_id", "neighbor_id", "cosine_sim", "rank")


# ----------------------------------------------------------------------
# Deterministic random-hyperplane LSH


def _plane_component(plane: int, dim_col: Column) -> Column:
    """Pseudo-random plane component in [-1, 1) from md5(plane ':' dim)."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit(f"{plane}:"), dim_col.cast("string"))), 1, 8), 16, 10)
    return (h.cast("double") / F.lit(float(2**32))) * 2.0 - 1.0


def _plane_component_value(plane: int, d: int) -> float:
    """Driver-side mirror of ``_plane_component`` — identical md5-derived
    double (the 8-hex-digit int is ≤ 2^32 and exactly representable, so the
    Python and JVM arithmetic produce the same bits)."""
    h = int(hashlib.md5(f"{plane}:{d}".encode()).hexdigest()[:8], 16)
    return (h / float(2**32)) * 2.0 - 1.0


def corpus_count(df: DataFrame) -> int:
    """``df.count()`` memoized per DataFrame object (the detect_fixed_dim
    contract: per-session static tables hit, ad-hoc frames miss, entries
    die with their frame). Feeds the adaptive-width policy — one count job
    per corpus frame per session, not per plan build."""
    return memo(df, ("count",), df.count)


def detect_fixed_dim(df: DataFrame, vec_col: str) -> int | None:
    """Embedding dimensionality if it is uniform across the table, else
    None. One narrow agg over the (pruned) vector column — memoized per
    (DataFrame object, column), and it licenses the literal-plane fast
    path below (which is only value-identical for vectors of exactly that
    length).

    Memoized on DataFrame OBJECT identity (r11): the probe is a real Spark
    job (~0.25 s at sf0.1), and the hot callers (q55 per bench build, every
    lsh_topk) pass the per-session load_table frame — the SAME object each
    time, so the job runs once per session instead of once per plan
    construction. Frames built ad hoc simply miss (new object)."""

    def _probe() -> int | None:
        row = df.agg(
            F.min(F.size(F.col(vec_col))).alias("lo"),
            F.max(F.size(F.col(vec_col))).alias("hi"),
        ).first()
        if row is not None and row["lo"] is not None and row["lo"] == row["hi"]:
            return int(row["lo"])
        return None

    return memo(df, ("dim", vec_col), _probe)


#: Plane-index stride per table in ADAPTIVE mode (also the adaptive width
#: ceiling): table t uses planes t·STRIDE+j for j < num_planes, so the
#: p-bit signature is a PREFIX of the full STRIDE-bit signature of the same
#: table. That prefix property is what lets a count-dependent width carry a
#: static SQL oracle (the width is data, not structure — the oracle computes
#: the same p from count(*) and generates exactly p sign bits per table).
ADAPTIVE_PLANE_STRIDE = 24

#: Target expected bucket occupancy for adaptive width: with n/2^p vectors
#: per bucket ≤ 8 and the capped emitters' default m=3 successors, fewer
#: than m verification-failing colliders typically interleave between true
#: near-dup neighbors in at least one of the OR-amplified tables. 8 also
#: reproduces the measured RECALL_r13 restore point: 2000 vectors → p=8
#: (agreement 10000 bp) where the static default p=6 dropped to 8750 bp.
ADAPTIVE_PLANES_OCCUPANCY = 8


def adaptive_num_planes(
    n: int,
    occupancy: int = ADAPTIVE_PLANES_OCCUPANCY,
    lo: int = 6,
    hi: int = ADAPTIVE_PLANE_STRIDE,
) -> int:
    """Corpus-adaptive LSH signature width (VERDICT r13 item 1): the
    smallest ``p ≥ lo`` with ``n ≤ occupancy · 2^p``, capped at ``hi`` —
    log₂-style growth that holds expected bucket occupancy ≈ constant as
    the corpus grows, so the capped emitters' collider-density contract
    (lsh_candidate_pairs_capped / cosine_near_dup_pairs) doesn't silently
    enter its failure regime at 10⁹ vectors under a static default width.
    Pure integer arithmetic (no float log2 at branch boundaries) so the
    SQL oracle's comparison ladder mirrors it exactly.

    Recall at extreme widths (stated, not hidden): per-table collision
    probability for a pair at angle θ is (1−θ/π)^p, so growing p cheapens
    buckets but thins BORDERLINE-pair recall — the OR-amplification curse;
    keeping it constant would need exponentially many tables. What the
    dedup use case relies on survives: exact/near-exact duplicates have
    (near-)identical sign vectors and collide at ANY width, and clique
    members reach each other through chains and multiple tables — the
    trade RECALL_r14's auto rung measures (cluster agreement 10000 bp at
    every harness SF). Callers needing high recall on borderline pairs at
    extreme corpus scale can pass ``num_tables="auto"``
    (:func:`adaptive_num_tables`, r15) — base amplification at the
    occupancy-pinned width, doubling cost-linearly once the width deviates
    into a bucket-miss or bucket-dense regime — or lower ``occupancy``
    deliberately."""
    p = lo
    while p < hi and n > (occupancy << p):
        p += 1
    return p


#: OR-amplification policy constants (r15, VERDICT r14 item 6). The table
#: count doubles once per DOUBLING_PLANES of |width − occupancy-pinned
#: width|, grounded in equal-candidate-budget measurements (T·m held
#: constant, RECALL_r15 tables_policy_equal_cost + the sweep behind it):
#: near the occupancy point, spending the budget on successor DEPTH beats
#: spending it on tables (T4·m6 > T8·m3 at surplus +2/+6 on sf0.01, and
#: still at +10 on sf0.1), while deep in the bucket-miss regime tables win
#: (T8·m3 > T4·m6 at +10/+12 on sf0.001/sf0.01 and at +12/+14 on sf0.1).
#: The measured crossover sits between +10 and +12 depending on corpus
#: density, so the first doubling lands at +12 — conservative for every
#: measured corpus. The same deviation logic covers the width-CAP regime
#: (n > occupancy·2^24: buckets densify, colliders interleave past the
#: successor cap, extra independent tables restore adjacency odds) —
#: stated from the collision model, not measurable at harness SFs.
ADAPTIVE_TABLES_BASE = 4
ADAPTIVE_TABLES_DOUBLING_PLANES = 12
ADAPTIVE_TABLES_CAP = 32


def adaptive_num_tables(
    n: int,
    num_planes: int,
    base: int = ADAPTIVE_TABLES_BASE,
    cap: int = ADAPTIVE_TABLES_CAP,
) -> int:
    """Corpus/width-driven OR-amplification (the policy the RECALL_r14
    tables-2/4/8 sweep motivated): ``base`` tables at the occupancy-pinned
    width, doubling per :data:`ADAPTIVE_TABLES_DOUBLING_PLANES` planes of
    DEVIATION between the actual signature width and the uncapped
    occupancy ladder point for ``n`` vectors — wider-than-pinned means
    sparse buckets (true pairs stop colliding anywhere; more independent
    tables are the only recall lever), narrower-than-pinned (the 24-plane
    cap at n > 2^27) means dense buckets (colliders interleave past the
    successor cap; more tables restore adjacency odds). At the pinned
    width itself the successor cap, not bucket membership, binds recall —
    measured in RECALL_r15 — so the base stays put and the q55/q159/q160
    oracles are unchanged by ``num_tables="auto"``. Pure integer
    arithmetic, mirrorable like the planes ladder."""
    p_star = adaptive_num_planes(n, hi=1 << 30)  # uncapped ladder point
    doublings = abs(num_planes - p_star) // ADAPTIVE_TABLES_DOUBLING_PLANES
    return min(cap, base << doublings)


def hyperplane_bucket(
    vec_col: Column,
    num_planes: int = 8,
    table: int = 0,
    dim: int | None = None,
    stride: int | None = None,
) -> Column:
    """LSH bucket signature: one sign bit per hyperplane, concatenated.

    sign_p = sign( Σ_d vec[d] * plane_p[d] ) with the same left-to-right
    accumulation in both forms. ``table`` offsets the plane seeds so
    independent hash tables can be built for OR-amplification.

    ``dim``: when the vector length is known and uniform (detect_fixed_dim),
    plane components become literal double arrays computed driver-side from
    the identical md5 derivation — the plan carries dim·planes constants
    instead of evaluating dim·planes md5s PER ROW (measured: 8.4 s → 0.3 s
    to bucket 2000×64-d vectors into 4×6-plane tables at sf0.1). dim=None
    keeps the fully dynamic expression for ragged/unknown dimensions.

    ``stride``: plane-index stride between tables (default ``num_planes``,
    the legacy packing). Adaptive-width callers pass
    ``ADAPTIVE_PLANE_STRIDE`` so a table's p-bit signature is a prefix of
    its full stride-bit signature regardless of the resolved width."""
    base = table * (stride if stride is not None else num_planes)
    bits = []
    for p in range(base, base + num_planes):
        if dim is not None:
            # NOT unrolled here: num_planes × dim terms in one projection
            # list overwhelms codegen (measured 2.6 MiB task binaries and a
            # 5× slowdown at 24 planes × 64 dims) — the literal array keeps
            # the plan compact and still skips the per-row md5s.
            plane = F.array(*[F.lit(_plane_component_value(p, d)) for d in range(dim)])
            zipped = F.zip_with(_to_double(vec_col), plane, lambda x, c: x * c)
            proj = F.aggregate(zipped, F.lit(0.0), lambda acc, x: acc + x)
        else:
            dims = F.sequence(F.lit(0), F.size(vec_col) - 1)
            zipped = F.zip_with(
                _to_double(vec_col), dims, lambda x, d: x * _plane_component(p, d)
            )
            proj = F.aggregate(zipped, F.lit(0.0), lambda acc, x: acc + x)
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 8,
    round_scale: int = 5,
) -> DataFrame:
    """Approximate top-k: score only pairs sharing an LSH bucket.

    The corpus is bucketed once (reusable as a materialized index); lookup is
    an equi-join on the bucket signature — at scale this replaces the O(N)
    scan per query with a hash-partition-local probe.
    """
    from pyspark.sql import Window

    # The literal-plane fast path is only value-identical for vectors of
    # EXACTLY the detected length: zip_with null-pads a shorter/longer side,
    # making the projection NULL and silently mis-bucketing (ADVICE r4). So
    # the dim must be detected on BOTH inputs and agree; any mismatch (or
    # ragged side) falls back to the fully dynamic expression.
    dim_c = detect_fixed_dim(corpus, vec_col)
    dim_q = detect_fixed_dim(queries, vec_col)
    dim = dim_c if (dim_c is not None and dim_c == dim_q) else None
    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        hyperplane_bucket(F.col(vec_col), num_planes, dim=dim).alias("bucket"),
    )
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        hyperplane_bucket(F.col(vec_col), num_planes, dim=dim).alias("bucket"),
    )
    # bucket-shared candidates scored by the shared vectorized pair kernel
    # (r12) — at scale the candidate set is |bucket| rows per query and the
    # interpreted HOF cosine was the per-pair cost here too
    joined = (
        cb.join(F.broadcast(qb), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("q_vec").alias("__qvec"),
            "neighbor_id",
            F.col("c_vec").alias("__nvec"),
        )
    )
    scored = _pair_cosine_scores(
        joined,
        queries.schema[id_col].dataType.simpleString(),
        corpus.schema[id_col].dataType.simpleString(),
        round_scale,
    )
    # per-query top-k WITHOUT a per-query single-task sort: the scored set
    # is corpus-sized per query, so a bare partitionBy(query_id) window is
    # the straggler class ranking.py exists to kill (VERDICT r6 bench work)
    from .ranking import topk_per_group

    return topk_per_group(
        scored,
        ["query_id"],
        [],
        k,
        order_sql="cosine_sim DESC, neighbor_id ASC",
    ).select("query_id", "neighbor_id", "cosine_sim", "rank")


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = 6,
) -> DataFrame:
    """Per-label centroid vectors: exact DECIMAL per-dimension means (order-
    independent across partial aggregations — see plans/_util.py), rounded,
    re-assembled into an ``array<double>`` ordered by dimension.

    Output: (label, centroid array). Centroid count == label cardinality, so
    the result is broadcast-sized by construction at any corpus scale.

    Memoized per (input DataFrame object, params) — the kmeans_centroids
    precedent: :func:`ivf_assign` collects the centroid table (r12), so
    without the memo every ivf_topk plan BUILD re-runs the corpus-wide
    centroid aggregation job for an identical result (q43: 0.7 s/build).
    Returning the SAME DataFrame object also lets ivf_assign's collected-
    rows memo hit. Static-inputs caveat as load_table's memo; a caller over
    mutating files calls ``_cache.forget(df)`` to force a re-train.
    """
    return memo(
        df,
        ("label_centroids", vec_col, label_col, scale),
        lambda: _label_centroids_literal(df, vec_col, label_col, scale),
    )


def _label_centroids_literal(
    df: DataFrame, vec_col: str, label_col: str, scale: int
) -> DataFrame:
    built = _label_centroids_build(df, vec_col, label_col, scale)
    # r13 (VERDICT r12 item 2): LITERAL-ize (the pq._literal_codebook
    # pattern). The table is broadcast-sized by construction and the
    # assign kernel driver-collects it anyway — but as a lazy plan, every
    # EXEC of an ivf query re-ran the corpus-wide centroid aggregation
    # (plus its two exchanges) inside the probes broadcast subtree, a
    # corpus-scan per run for config-constant training state. Collecting
    # once (memoized per corpus frame) makes the centroid table a
    # LocalTableScan; the collected doubles round-trip exactly.
    rows = built.select(label_col, "centroid").collect()
    out = df.sparkSession.createDataFrame(rows, built.schema)
    rows.sort(key=lambda r: r[0])
    memo(out, ("centroid_rows", label_col), lambda: rows)
    return out


def _label_centroids_build(
    df: DataFrame, vec_col: str, label_col: str, scale: int
) -> DataFrame:
    long = df.select(label_col, F.posexplode(vec_col).alias("pos0", "val"))
    cent_long = long.groupBy(label_col, (F.col("pos0") + 1).alias("pos")).agg(
        F.round(
            F.sum(F.col("val").cast("double").cast("decimal(18,12)")).cast("double")
            / F.count("*"),
            scale,
        ).alias("cval")
    )
    return cent_long.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cval"))), lambda s: s["cval"]
        ).alias("centroid")
    )


def _collect_centroids(centroids: DataFrame, label_col: str) -> list:
    """Driver-collect a centroid table, sorted by label — memoized per
    DataFrame object (the table is broadcast-sized by construction: label
    cardinality for label_centroids, k for kmeans_centroids). Shared by
    the assign kernel closure and the probe-selection expression."""

    def _collect() -> list:
        rows = centroids.select(F.col(label_col), F.col("centroid")).collect()
        rows.sort(key=lambda r: r[0])
        return rows

    return memo(centroids, ("centroid_rows", label_col), _collect)


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_scale: int = 5,
) -> DataFrame:
    """Coarse quantization: assign each vector to its nearest centroid cell
    (max cosine, ties to the lowest cell id).

    r12 REWRITE — a pure map pass, ZERO shuffles: the centroid table is
    collected to the driver (k rows — broadcast-sized by construction; the
    coarse quantizer IS central state in any IVF deployment, exactly like
    FAISS's) and shipped inside an Arrow-batched ``mapInPandas`` closure
    that scores each corpus partition with a vectorized numpy kernel. The
    old form exploded corpus × cells through a crossJoin and picked the
    argmax with a window PARTITION BY vector id — a full corpus shuffle
    (k× the corpus in rows) on every assignment pass; kmeans' Lloyd chain
    pays assignment iters+1 times, so at 100 TB that was iters+1
    corpus-sized exchanges for what is semantically a map. An interpreted
    JVM HOF fold was tried first: ~180 ns per lambda eval × dim × k per
    row dominated (0.47 s/pass at sf0.1 vs ~0.03 s for this kernel).

    Float parity with the old HOF cosine and the DuckDB oracles (the
    ``brute_force_near_dup_pairs`` conventions): dot/norm accumulate
    SEQUENTIALLY over dimensions (vectorized over rows), rounding is
    half-away-from-zero, and the argmax reproduces the window's
    (sim DESC NANS FIRST, id ASC) total order — centroids sort by id,
    NaN maps to +inf, and ``argmax`` keeps the FIRST maximum. Collecting
    the centroids makes construction EAGER (each Lloyd iteration runs one
    assignment+update job at build time — the iterative-algorithm shape
    pagerank/PQ training already have). Empty-centroid inputs return an
    empty frame, matching the old crossJoin's empty result.
    """
    import numpy as np
    import pandas as pd

    id_t = df.schema[id_col].dataType.simpleString()
    vec_t = df.schema[vec_col].dataType.simpleString()
    lbl_t = centroids.schema[label_col].dataType.simpleString()
    out_schema = f"`{id_col}` {id_t}, `{vec_col}` {vec_t}, cell {lbl_t}"

    # the collect is memoized per centroid-DataFrame object (with the
    # kmeans_centroids training memo, repeated builds of the same query
    # collect the same trained table exactly once per session)
    rows = _collect_centroids(centroids, label_col)
    cols = df.select(F.col(id_col), F.col(vec_col))
    if not rows:
        return cols.selectExpr("*", f"CAST(NULL AS {lbl_t}) AS cell").filter(F.lit(False))
    labels = np.array([r[0] for r in rows])
    cmat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    dim = cmat.shape[1]
    cnorm = _seq_norm(cmat, dim)
    scale = 10**round_scale

    def _assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            # NULL/ragged rows → all-NaN → NaN sims → +inf argmax → the
            # FIRST (smallest) label: exactly where the replaced window's
            # NULLS-LAST desc + label-asc tie-break put them (r13)
            vmat = _vmat_or_nan(pdf[vec_col], dim)
            acc = np.zeros((vmat.shape[0], cmat.shape[0]))
            for d in range(dim):  # sequential over dims: order parity
                acc += vmat[:, d, None] * cmat[None, :, d]
            with np.errstate(invalid="ignore", divide="ignore"):
                sims = acc / (_seq_norm(vmat, dim)[:, None] * cnorm[None, :])
                sims = np.floor(np.abs(sims) * scale + 0.5) / scale * np.sign(sims)
            best = np.argmax(np.where(np.isnan(sims), np.inf, sims), axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    vec_col: pdf[vec_col].to_numpy(),
                    "cell": labels[best],
                }
            )

    return cols.mapInPandas(_assign, out_schema)


#: above this cell count the probe-selection expression (k² struct
#: comparisons per query row) loses to the window plan's shuffles.
#: MEASURED crossover (ADVICE r13, tools/measure_probe_crossover.py —
#: 200 queries × 64 dims, warm min-of-3, expr/window time ratio):
#: 8 cells 0.68×, 32 cells 1.06×, 64 cells 2.2×, 128 cells 8.0×,
#: 256 cells 25.8× — Catalyst does NOT subexpression-eliminate the k
#: cosines inside the nested filter lambdas, so the quadratic term is
#: real and the old 256 bound sat deep in the regression regime.
PROBE_EXPR_MAX_CELLS = 32


def _sql_double(x) -> str | None:
    """Exact SQL double literal, or None for NULL / non-finite values
    (those fall back to the window probe plan rather than risk
    literal-rendering)."""
    if x is None:
        return None
    x = float(x)
    if x != x or x in (float("inf"), float("-inf")):
        return None
    return repr(x) + "D"


def _probe_selected_col(
    cent: DataFrame, rows: list, label_col: str, nprobe: int, round_scale: int
):
    """The probe-selection expression for :func:`probe_cells` — an
    ``array<struct<cell, centroid>>`` of each query row's nprobe winning
    cells, referencing only ``__qvec``. Memoized per centroid frame: the
    column is query-independent, and building its nested lambdas costs
    ~0.35 s of py4j round-trips per plan build otherwise. Returns None
    when the cells can't be rendered as a SQL literal."""

    def _build():
        cells_col = _cells_literal_col(cent, rows, label_col)
        if cells_col is None:
            return None
        scored = F.transform(
            cells_col,
            lambda c: F.struct(
                c["cell"].alias("cell"),
                c["centroid"].alias("centroid"),
                F.round(cosine(F.col("__qvec"), c["centroid"]), round_scale).alias("sim"),
            ),
        )

        def _better(o, c):
            # the (sim DESC NULLS LAST, cell ASC) total order as a strict
            # comparator; Spark's >/= are NaN-greatest, matching desc()
            return (
                F.when(o["sim"].isNull() & c["sim"].isNull(), o["cell"] < c["cell"])
                .when(o["sim"].isNull(), F.lit(False))
                .when(c["sim"].isNull(), F.lit(True))
                .when(o["sim"] > c["sim"], F.lit(True))
                .when(o["sim"] == c["sim"], o["cell"] < c["cell"])
                .otherwise(F.lit(False))
            )

        sc2 = scored  # same expression; Catalyst subexpression-eliminates
        return F.filter(
            scored,
            lambda c: F.size(F.filter(sc2, lambda o: _better(o, c))) < F.lit(nprobe),
        )

    return memo(cent, ("probe_sel", label_col, nprobe, round_scale), _build)


def _cells_literal_col(cent: DataFrame, rows: list, label_col: str):
    """The collected centroid table as ONE generated-SQL array literal
    ``array<struct<cell, centroid>>`` (memoized per centroid frame; a
    single F.expr parse per session). Returns None when a label type or a
    non-finite component can't be rendered — callers then keep the
    crossJoin+window probe plan."""

    def _render():
        lbl_t = cent.schema[label_col].dataType.simpleString()
        structs = []
        for r in rows:
            lbl = r[0]
            if isinstance(lbl, bool) or not isinstance(lbl, (int, str)):
                return None
            if isinstance(lbl, str):
                lit = "'" + lbl.replace("\\", "\\\\").replace("'", "\\'") + "'"
            else:
                lit = str(lbl)
            # a NULL centroid array, or a NULL/non-finite component (a label
            # whose vectors are all NULL at some dim), can't be rendered —
            # fall back to the window plan rather than crash the build
            comps = [_sql_double(x) for x in r[1]] if r[1] is not None else [None]
            if any(c is None for c in comps):
                return None
            structs.append(
                f"named_struct('cell', CAST({lit} AS {lbl_t}), "
                f"'centroid', array({','.join(comps)}))"
            )
        # ADVICE r13: the manual escaping above covers backslash/quote, but
        # an exotic string label (e.g. embedded control bytes the SQL lexer
        # rejects) could still fail the parse — treat a parse error as "not
        # renderable" and take the crossJoin+window fallback, like every
        # other unrenderable case, instead of crashing the plan build.
        try:
            return F.expr("array(" + ",".join(structs) + ")")
        except Exception:
            return None

    return memo(cent, ("cells_col", label_col), _render)


def probe_cells(
    q: DataFrame,
    cent: DataFrame,
    label_col: str,
    nprobe: int,
    round_scale: int = 5,
) -> DataFrame:
    """(query_id, __qvec, cell, centroid): each query's ``nprobe`` nearest
    centroid cells under the row_number total order (rounded cosine DESC —
    Spark NaN-greatest, NULLs last — then cell ASC). Shared by ivf_topk
    and ivf_pq_topk.

    r13 (VERDICT r12 item 2): with the centroid table collected and small
    (≤ PROBE_EXPR_MAX_CELLS — broadcast-sized by construction), selection
    is a PURE PROJECTION over the query scan: the cells ride in as one
    generated-SQL array literal (a single ``F.expr`` parse — per-double
    ``F.lit`` costs a py4j round-trip each, ~0.5 s of driver time per
    plan build at 10 cells × 64 dims; a 1-row crossJoin frame costs a
    BroadcastNestedLoopJoin stage per exec), each query row scores them
    in place and keeps the ones with fewer than ``nprobe``
    strictly-better cells (rank-via-count — an exact row_number
    replacement for a distinct-cell total order). Doubles render with
    ``repr`` (shortest round-trip; Java's parse is correctly rounded, so
    the bits survive exactly). The replaced crossJoin + row_number window
    paid two exchanges inside the probes broadcast subtree on every exec;
    above the cell bound (or for non-finite / non-int/str labels) that
    window plan IS the right shape, so it remains as the fallback.

    Precondition: query_id is unique per row (every caller keys queries
    by id). Duplicate ids are degenerate in BOTH regimes — the window
    fallback row_numbers across the merged partition (mixing the two
    vectors' probes), the expression path emits nprobe probes per ROW —
    neither is meaningful; the regimes agree on all well-formed input."""
    from pyspark.sql import Window

    rows = _collect_centroids(cent, label_col)
    selected = (
        _probe_selected_col(cent, rows, label_col, nprobe, round_scale)
        if rows and len(rows) <= PROBE_EXPR_MAX_CELLS
        else None
    )
    if selected is not None:
        return q.select(
            "query_id", "__qvec", F.explode(selected).alias("__pc")
        ).select(
            "query_id",
            "__qvec",
            F.col("__pc.cell").alias("cell"),
            F.col("__pc.centroid").alias("centroid"),
        )

    pw = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col(label_col).asc()
    )
    return (
        q.crossJoin(F.broadcast(cent))
        .withColumn(
            "__sim", F.round(cosine(F.col("__qvec"), F.col("centroid")), round_scale)
        )
        .withColumn("__rn", F.row_number().over(pw))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "__qvec", F.col(label_col).alias("cell"), "centroid")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    nprobe: int = 2,
    round_scale: int = 5,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize the corpus into centroid
    cells, probe only the ``nprobe`` cells nearest each query.

    Fully deterministic (exact-decimal centroids + rounded similarities +
    total-order tie-breaks), unlike random-projection LSH — so it carries a
    SQL oracle. At scale the assigned corpus is written bucketed by ``cell``;
    the probe join is then partition-local and touches nprobe/n_cells of the
    data — the IVF pruning that makes ANN sublinear.

    Centroid freeze (ADVICE r13): :func:`label_centroids` collects and
    literal-izes the centroid table at FIRST plan build and memoizes it per
    corpus DataFrame object — subsequent executions against the same frame
    reuse those centroids even if the underlying files mutate. For
    long-lived sessions over mutable storage, re-``load_table`` (a fresh
    DataFrame object) or call ``_cache.forget(corpus)`` to force a
    re-train.
    """
    cent = label_centroids(corpus, vec_col, label_col)
    assigned = ivf_assign(corpus, cent, id_col, vec_col, label_col, round_scale)

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec"))
    probes = probe_cells(q, cent, label_col, nprobe, round_scale).select(
        "query_id", "__qvec", "cell"
    )
    # Probe scoring: the candidate set is nprobe cells' worth of corpus per
    # query, each pair paying an interpreted JVM HOF cosine (~35 µs/pair
    # over 64 dims: the same per-lambda-eval cost ivf_assign's r12 rewrite
    # measured) — score with the shared vectorized pair kernel instead
    # (one Arrow pass over the join output, zero extra shuffles).
    joined = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col("__qvec"),
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__nvec"),
        )
    )
    scored = _pair_cosine_scores(
        joined,
        queries.schema[id_col].dataType.simpleString(),
        corpus.schema[id_col].dataType.simpleString(),
        round_scale,
    )
    # per-query top-k WITHOUT a per-query single-task sort: the scored set
    # is corpus-sized per query, so a bare partitionBy(query_id) window is
    # the straggler class ranking.py exists to kill (VERDICT r6 bench work)
    from .ranking import topk_per_group

    return topk_per_group(
        scored,
        ["query_id"],
        [],
        k,
        order_sql="cosine_sim DESC, neighbor_id ASC",
    ).select("query_id", "neighbor_id", "cosine_sim", "rank")


def kmeans_cells(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    round_scale: int = 5,
) -> DataFrame:
    """Deterministic k-means coarse quantizer (the learned-centroid IVF).

    Everything is derandomized so two engines (and two runs) agree exactly:
    - init: the k vectors with the smallest (md5(id), id) — a hash-priority
      sample; ``orderBy().limit(k)`` plans as a distributed top-k
      (TakeOrderedAndProject), never a global sort;
    - assignment: max rounded cosine, ties to the lowest cell;
    - update: exact-DECIMAL per-dimension means (order-independent),
      rounded — identical partial-aggregation results at any parallelism.

    Returns final (id, vec, cell) assignments. Fixed ``iters`` rather than
    convergence-test keeps the plan static and the oracle mirrorable.
    """
    cents = kmeans_centroids(df, id_col, vec_col, k, iters, round_scale)
    return ivf_assign(df, cents, id_col, vec_col, "cell", round_scale)


def kmeans_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    round_scale: int = 5,
) -> DataFrame:
    """The trained (cell, centroid) table of :func:`kmeans_cells` — exposed
    separately so train-once/assign-forever indexes (fold_semantic_index)
    can freeze the centroids from their first batch.

    Training is memoized per (input DataFrame object, params) — the
    detect_fixed_dim precedent: since :func:`ivf_assign` collects the
    centroid table (r12), each Lloyd iteration is an eager job, and
    re-running q51/q150-class queries in one session would otherwise
    re-train identical centroids per plan BUILD. Same static-inputs caveat
    as sources/tables.load_table's frame memo (a data-regenerating caller
    starts a new session, as the driver and all tools do)."""

    def _train() -> DataFrame:
        key = F.md5(F.col(id_col).cast("string"))
        seeds = df.select(
            key.alias("__h"), F.col(id_col).alias("__sid"), F.col(vec_col)
        ).orderBy("__h", "__sid").limit(k)
        cents = seeds.withColumn(
            "cell", F.row_number().over(Window.orderBy("__h", "__sid")) - 1
        ).select("cell", F.col(vec_col).alias("centroid"))
        for _ in range(iters):
            assigned = ivf_assign(df, cents, id_col, vec_col, "cell", round_scale)
            cents = label_centroids(assigned, vec_col, "cell")
        return cents

    return memo(df, ("kmeans", id_col, vec_col, k, iters, round_scale), _train)


def brute_force_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    round_scale: int = 5,
    num_blocks: int = 8,
) -> DataFrame:
    """Exact embedding near-dup pairs: all (a < b) pairs with cosine ≥
    threshold. O(N²) compute — the correctness baseline the LSH/IVF variants
    are judged against; ``cosine_near_dup_pairs`` (bucketed) is the
    sub-quadratic path at corpus scale.

    Fully distributed block-grid: rows hash (md5-derived, deterministic)
    into ``num_blocks`` blocks; each of the B(B+1)/2 block pairs cogroups
    into one ``applyInPandas`` task scoring an (N/B)×(N/B) tile with a
    vectorized numpy kernel. Nothing is collected or broadcast — peak task
    memory is two block matrices + one tile, and ``num_blocks`` scales the
    tile down as N grows (tasks = B², so parallelism grows with it). The
    expression-HOF cosine on an exploded pair space is ~50× slower
    (measured 92s vs <2s at sf0.1) — interpreted per element, and the
    explode materializes the pairs through a shuffle; the grid ships each
    row only B times and materializes no pair rows.

    Float parity with the HOF ``aggregate`` and DuckDB's ``list_sum``:
    dot/norm accumulate SEQUENTIALLY over dimensions (a Python loop of
    vectorized adds — same left-to-right order; BLAS matmul would use
    blocked accumulation whose rounding can diverge), and rounding is
    half-away-from-zero to match Spark/DuckDB ROUND (numpy rounds
    half-even).
    """
    import numpy as np
    import pandas as pd

    id_dt = df.schema[id_col].dataType.simpleString()
    scale = 10**round_scale

    block = F.pmod(
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast("long"),
        F.lit(num_blocks),
    ).cast("int")
    rows = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"), block.alias("__blk"))
    # Replicate each row to its grid cells (bi <= bj) by exploding a small
    # int range — no self-join, each row ships at most `num_blocks` times.
    left = rows.select(
        "__id",
        "__vec",
        F.col("__blk").alias("bi"),
        F.explode(F.sequence("__blk", F.lit(num_blocks - 1))).alias("bj"),
    )
    # Fresh aliases on the right: both sides derive from the same plan, and
    # shared attribute ids across a cogroup are deduplicated away by Spark's
    # self-join resolution (the right pdf would arrive without its columns).
    right = rows.select(
        F.col("__id").alias("__rid"),
        F.col("__vec").alias("__rvec"),
        F.explode(F.sequence(F.lit(0), "__blk")).alias("bi"),
        F.col("__blk").alias("bj"),
    )

    def _tile(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"a_id": [], "b_id": [], "cosine_sim": []})
        if lpdf.empty or rpdf.empty:
            return empty
        bi, bj = key
        a_ids = lpdf["__id"].to_numpy()
        b_ids = rpdf["__rid"].to_numpy()
        # per-LENGTH subtiles (r13): only same-length pairs can score —
        # the zip_with cosine null-pads a mismatched pair to NULL, which
        # never passes the threshold filter, and the oracle's list_sum
        # does the same; NULL vectors never score. The uniform-corpus
        # batch stays exactly one subtile; a ragged batch no longer
        # crashes the task on the matrix conversion.
        l_len = np.array([len(v) if v is not None else -1 for v in lpdf["__vec"]])
        r_len = np.array([len(v) if v is not None else -1 for v in rpdf["__rvec"]])
        outs = []
        for dim in np.intersect1d(
            np.unique(l_len[l_len >= 1]), np.unique(r_len[r_len >= 1])
        ):
            li = np.nonzero(l_len == dim)[0]
            ri = np.nonzero(r_len == dim)[0]
            av, bv = a_ids[li], b_ids[ri]
            a_mat = np.array(
                [list(lpdf["__vec"].iloc[i]) for i in li], dtype=np.float64
            )
            b_mat = np.array(
                [list(rpdf["__rvec"].iloc[i]) for i in ri], dtype=np.float64
            )
            acc = np.zeros((len(li), len(ri)))
            for d in range(dim):  # sequential over dims: order parity
                acc += a_mat[:, d, None] * b_mat[None, :, d]
            with np.errstate(invalid="ignore", divide="ignore"):
                sims = acc / (
                    _seq_norm(a_mat, dim)[:, None] * _seq_norm(b_mat, dim)[None, :]
                )
                sims = np.floor(np.abs(sims) * scale + 0.5) / scale * np.sign(sims)
            if bi == bj:  # same block both sides: strict < keeps each pair once
                keep = (av[:, None] < bv[None, :]) & (sims >= threshold)
            else:  # disjoint blocks: every qualifying pair, ordered below
                keep = sims >= threshold
            ai, bjx = np.nonzero(keep)
            if not len(ai):
                continue
            swap = bv[bjx] < av[ai]
            outs.append(
                pd.DataFrame(
                    {
                        "a_id": np.where(swap, bv[bjx], av[ai]),
                        "b_id": np.where(swap, av[ai], bv[bjx]),
                        "cosine_sim": sims[ai, bjx],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True) if outs else empty

    return (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("bi", "bj"))
        .applyInPandas(_tile, f"a_id {id_dt}, b_id {id_dt}, cosine_sim double")
    )


def _seq_norm(mat, dim):
    """Per-row L2 norm accumulated sequentially over dimensions (parity with
    the sequential ``aggregate``/``list_sum`` order)."""
    import numpy as np

    acc = np.zeros(mat.shape[0])
    for d in range(dim):
        acc += mat[:, d] * mat[:, d]
    return np.sqrt(acc)


def _vmat_or_nan(vs, dim: int):
    """Arrow vector batch → (n, dim) float64 matrix; NULL vectors and
    length-mismatched rows become ALL-NaN rows instead of crashing the
    task (r13, the pq._vmat_fixed precedent). All-NaN reproduces the
    expression plans' null-propagation exactly at every consumer: a NULL
    zip_with cosine sorted NULLS-LAST in the assignment window (→ the
    NaN→+inf argmax's first label), made every hyperplane sign bit take
    the ``otherwise('0')`` branch (→ NaN >= 0 is False → '0'), and never
    passed a ``>= threshold`` filter (→ numpy NaN >= t is False)."""
    import numpy as np

    out = np.full((len(vs), dim), np.nan)
    for i, v in enumerate(vs):
        if v is not None and len(v) == dim:
            out[i] = np.asarray(v, dtype=np.float64)
    return out


def _pair_cosine_scores(
    joined: DataFrame, qid_t: str, nid_t: str, round_scale: int
) -> DataFrame:
    """Rounded cosine per candidate pair, vectorized (r12): input columns
    (query_id, __qvec, neighbor_id, __nvec) → (query_id, neighbor_id,
    cosine_sim) in ONE Arrow-batched mapInPandas pass — the shared scoring
    tail of the bucketed/probed ANN paths (ivf_topk, lsh_topk). Value
    parity with ``F.round(cosine(a, b), s)`` on well-formed pairs:
    float32→float64 exact cast, sequential-over-dims accumulation for dot
    and norms, half-away-from-zero rounding.

    DEGENERATE pairs — NULL vector, length mismatch (``zip_with``
    null-pads → the HOF cosine is NULL there too), null element, genuine
    NaN element, zero-norm vector — all emit SQL NULL, which sorts LAST
    under topk_per_group's DESC order: a corrupted vector can never
    outrank a real neighbor. This is an explicit contract, not Arrow
    accident (r13/ADVICE r12): Arrow coerces a null float element to NaN
    inside the batch ndarray (indistinguishable from a source NaN, which
    would sort FIRST as NaN-greatest and make the corrupt row rank-1), so
    null-element rows are flagged JVM-SIDE (``exists(v, x -> x is
    null)``) before the Arrow boundary; and the kernel's object-column
    output makes every NaN cosine (NaN products, 0/0 norms) a real NULL
    at the return boundary. The only divergence from the HOF is
    NaN-product / zero-norm pairs (HOF: NaN, here: NULL) — deterministic
    corrupt-sorts-last beats NaN-first there."""
    import numpy as np
    import pandas as pd

    scale = 10**round_scale
    joined = joined.withColumn(
        "__pnull",
        F.expr(
            "exists(__qvec, x -> x is null) or exists(__nvec, x -> x is null)"
        ),
    )

    def _score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            qv, nv = pdf["__qvec"], pdf["__nvec"]
            qlen = np.array([len(v) if v is not None else -1 for v in qv])
            nlen = np.array([len(v) if v is not None else -1 for v in nv])
            # exists() is NULL for a NULL vector — those rows already have
            # len = -1 and never enter a vectorized group
            pnull = pdf["__pnull"].fillna(False).to_numpy(dtype=bool)
            out = np.empty(len(pdf), dtype=object)  # None = NULL cosine
            for L in np.unique(qlen[(qlen == nlen) & (qlen >= 0) & ~pnull]):
                sel = np.nonzero((qlen == L) & (nlen == L) & ~pnull)[0]
                qm = np.array([list(qv.iloc[i]) for i in sel], dtype=np.float64)
                nm = np.array([list(nv.iloc[i]) for i in sel], dtype=np.float64)
                acc = np.zeros(len(sel))
                for d in range(L):  # sequential over dims: order parity
                    acc += qm[:, d] * nm[:, d]
                with np.errstate(invalid="ignore", divide="ignore"):
                    sims = acc / (_seq_norm(qm, L) * _seq_norm(nm, L))
                    sims = np.floor(np.abs(sims) * scale + 0.5) / scale * np.sign(sims)
                for j, i in enumerate(sel):
                    # NaN (NaN products / zero norms) → None: the
                    # degenerate-pair NULL contract in the docstring
                    s = float(sims[j])
                    out[i] = s if s == s else None
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "cosine_sim": out,
                }
            )

    return joined.mapInPandas(
        _score, f"query_id {qid_t}, neighbor_id {nid_t}, cosine_sim double"
    )


def _bucket_table_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_planes: int,
    num_tables: int,
    dim: int,
    stride: int | None = None,
) -> DataFrame:
    """(vid, bucket) LSH index rows via ONE Arrow pass: all tables' plane
    projections for a vector batch computed as numpy column ops.

    Bit-identical to the expression form: plane components come from the
    same driver-side md5 derivation (``_plane_component_value``), the
    projection accumulates SEQUENTIALLY over dimensions (a Python loop of
    vectorized float64 adds — the zip_with/aggregate left-to-right order),
    and the sign test is the same ``>= 0``. Replaces num_tables×num_planes
    interpreted HOF traversals per row (~0.9 s for 2000×64-d vectors into
    4×6-plane tables at sf0.1) with dim vectorized steps (~0.1 s); each
    vector ships through Arrow exactly once."""
    import numpy as np
    import pandas as pd

    id_dt = df.schema[id_col].dataType.simpleString()
    step = stride if stride is not None else num_planes
    planes = {
        t: np.array(
            [
                [_plane_component_value(p, d) for d in range(dim)]
                for p in range(t * step, t * step + num_planes)
            ]
        )
        for t in range(num_tables)
    }

    def _buckets(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            # NULL/ragged rows → all-NaN → every sign test NaN >= 0 is
            # False → the all-'0' bucket: exactly the expression path's
            # NULL-projection otherwise('0') branch (r13)
            m = _vmat_or_nan(pdf[vec_col], dim)
            ids, buckets = [], []
            for t in range(num_tables):
                acc = np.zeros((len(pdf), num_planes))
                pt = planes[t]
                for d in range(dim):  # sequential over dims: order parity
                    acc = acc + m[:, d : d + 1] * pt[None, :, d][0]
                bits = np.where(acc >= 0, "1", "0")
                ids.extend(pdf[id_col])
                buckets.extend(f"{t}|" + "".join(row) for row in bits)
            yield pd.DataFrame({"vid": ids, "bucket": buckets})

    return df.select(id_col, vec_col).mapInPandas(
        _buckets, f"vid {id_dt}, bucket string"
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    num_planes: int | str = 6,
    num_tables: int | str = 4,
    round_scale: int = 5,
    max_bucket_successors: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-table LSH + verify.

    OR-amplification: each vector hashes into ``num_tables`` independent
    sign-bucket tables; a pair is a candidate if it collides in ANY table
    (recall 1-(1-p^planes)^tables vs p^planes for one table). Candidates are
    deduped on ids BEFORE vectors are re-attached, so each pair is scored
    exactly once and the wide embedding arrays never ride through the
    candidate shuffle — at corpus scale the joins stay id-keyed.

    ``max_bucket_successors`` (VERDICT r12 item 4): cap candidate
    generation — within each bucket a vector pairs only with its m
    id-ordered successors, so a dup-clique of size c emits ≤ c·m·tables
    candidates instead of c²/2 (the uncapped bucket self-join is what the
    10× scale smoke measures as ~quadratic pair growth on replicated
    corpora). Connectivity is a recall/output TRADE, not a free lunch
    (r13 review): a clique stays one component as long as < m
    verification-failing bucket colliders interleave between consecutive
    members in at least one of the ``num_tables`` tables — and with only
    2^num_planes buckets per table, colliders are COMMON at corpus
    scale, so raise ``num_planes`` together with the cap when capped
    recall matters. Only the transitive-closure rows are dropped for
    well-separated buckets. One ``lead`` window pass per bucket — linear
    work even in a hot bucket.

    ``num_planes="auto"`` (VERDICT r13 item 1): resolve the width from the
    memoized corpus count via :func:`adaptive_num_planes` — expected bucket
    occupancy stays ≈ :data:`ADAPTIVE_PLANES_OCCUPANCY` as the corpus
    grows, so the static default can't silently enter the capped emitters'
    collider-dense failure regime at 10⁹ vectors. Auto mode indexes planes
    with :data:`ADAPTIVE_PLANE_STRIDE` (table t uses planes t·24+j), making
    a table's p-bit signature a PREFIX of its 24-bit one — the property
    that lets a count-dependent width mirror into a static SQL oracle
    (q160) and keeps bucket identities comparable across corpus sizes.
    The resolved width is a plan-build-time constant: like the
    label_centroids freeze, it is memoized per corpus DataFrame object
    (:func:`corpus_count`) — re-``load_table`` for a mutated corpus."""
    stride = None
    if num_planes == "auto":
        num_planes = adaptive_num_planes(corpus_count(df))
        stride = ADAPTIVE_PLANE_STRIDE
    if num_tables == "auto":
        # ``num_tables="auto"`` (r15, VERDICT r14 item 6): resolve the
        # OR-amplification from the corpus count and the (resolved) width
        # via adaptive_num_tables — base tables at the occupancy-pinned
        # width (harness oracles unchanged), doubling only when the width
        # deviates into a bucket-miss/bucket-dense regime. Same memoized
        # corpus_count freeze as the width.
        num_tables = adaptive_num_tables(corpus_count(df), num_planes)
    dim = detect_fixed_dim(df, vec_col)
    # The bucket table is the LSH index: (id, bucket) only — num_tables
    # short strings per vector, a sliver of the corpus width. persist()
    # materializes it once instead of recomputing the projections on BOTH
    # sides of the self-join (exactly what a reusable on-disk index does at
    # production scale). Tracked: callers release via _cache.release_caches()
    # in long-lived sessions (ADVICE r4).
    from ._cache import persist_tracked

    if dim is not None:
        bt = _bucket_table_arrow(
            df, id_col, vec_col, num_planes, num_tables, dim, stride
        )
    else:
        sigs = F.array(
            *[
                F.concat(
                    F.lit(f"{t}|"),
                    hyperplane_bucket(
                        F.col(vec_col), num_planes, table=t, dim=dim, stride=stride
                    ),
                )
                for t in range(num_tables)
            ]
        )
        bt = df.select(F.col(id_col).alias("vid"), F.explode(sigs).alias("bucket"))
    b = persist_tracked(bt)
    # Candidate-dedup partitioning (r16, guide §2.5/§2.2): the exchange under
    # this ``distinct`` carries only (a_id, b_id) ids — a couple of MB even
    # for 10^5 pairs — so AQE's BYTE-based coalescing shrinks it to one or
    # two partitions, and the verify stage downstream (an interpreted HOF
    # dot product per pair, the pipeline's dominant per-row cost at bench
    # scale, which the optimizer cannot see) inherits that near-serial
    # parallelism: measured 1.11 → 0.43 s warm at sf0.1 (2.6×). An explicit
    # hash repartition on the dedup keys pins the exchange at the cluster's
    # ``defaultParallelism`` (scale-adaptive — total cores on any cluster,
    # NOT a local[32] constant) and AQE leaves user-specified counts alone.
    # Trade (documented): the partial (map-side) dedup of plain distinct()
    # is lost, so the exchange ships each multi-table collision ≤ num_tables
    # times — id-only bytes, negligible against the bucket join it follows.
    # At corpus scale the verify joins become shuffle joins with their own
    # byte-proportional exchanges, and this pinned exchange stays the
    # id-sliver it is here. The ADVICE-r16 alternative — distinct() BEFORE
    # the repartition to restore the partial dedup — was measured in r17
    # and REJECTED: EnsureRequirements elides the user repartition into the
    # dedup's own ENSURE_REQUIREMENTS exchange (same keys, same count), AQE
    # byte-coalesces it back to 1-2 partitions, the verify stage
    # re-serializes, and q55 regresses 0.66 → 1.39 s min-of-7 — exactly the
    # r16 bug this repartition exists to fix. A collision-count gate stays
    # the corpus-scale escape hatch if exchange growth ever shows up there.
    n_par = df.sparkSession.sparkContext.defaultParallelism
    if max_bucket_successors is None:
        a = b.alias("a")
        c = b.alias("c")
        cand = (
            a.join(c, (F.col("a.bucket") == F.col("c.bucket")) & (F.col("a.vid") < F.col("c.vid")))
            .select(F.col("a.vid").alias("a_id"), F.col("c.vid").alias("b_id"))
            .repartition(n_par, "a_id", "b_id")
            .distinct()
        )
    else:
        wb = Window.partitionBy("bucket").orderBy("vid")
        cand = (
            b.select(
                F.col("vid").alias("a_id"),
                F.array(
                    *[
                        F.lead("vid", j).over(wb)
                        for j in range(1, max_bucket_successors + 1)
                    ]
                ).alias("__succ"),
            )
            .select("a_id", F.explode("__succ").alias("b_id"))
            .filter(F.col("b_id").isNotNull())
            .repartition(n_par, "a_id", "b_id")
            .distinct()
        )
    # Verify with per-vector norms computed ONCE on the vector table and
    # carried through the join — the per-pair work drops to one dot product
    # (vs dot + two norms when cosine() runs per pair). selectExpr strings
    # (r11): identical Catalyst expressions to _to_double/l2_norm/dot
    # (`0.0D`-seeded left folds), a fraction of the py4j round-trips of the
    # stacked HOF builders — the cosine_topk treatment (r10) applied to
    # this pipeline's verify side.
    norm_sql = (
        "sqrt(aggregate(transform(transform(`{v}`, x -> CAST(x AS DOUBLE)),"
        " x -> x * x), 0.0D, (acc, x) -> acc + x))"
    )
    v = df.selectExpr(
        f"`{id_col}` AS __id",
        f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE)) AS __vec",
        norm_sql.format(v=vec_col) + " AS __norm",
    )
    va = v.selectExpr("__id AS a_id", "__vec AS __a_vec", "__norm AS __a_norm")
    vb = v.selectExpr("__id AS b_id", "__vec AS __b_vec", "__norm AS __b_norm")
    # Verify stays JVM-side HOF: at sf0.1 it is ~0.5 s of the pipeline
    # (measured stage-by-stage r5) and moving it to Arrow was NET SLOWER —
    # every candidate pair would carry two dim-wide double arrays through
    # Arrow serialization. The Arrow win is in the bucket build above,
    # where each VECTOR ships once, not once per pair.
    pairs = cand.join(va, "a_id").join(vb, "b_id")
    return pairs.selectExpr(
        "a_id",
        "b_id",
        "round(aggregate(zip_with(__a_vec, __b_vec, (x, y) -> x * y), 0.0D,"
        f" (acc, x) -> acc + x) / (__a_norm * __b_norm), {round_scale})"
        " AS cosine_sim",
    ).where(f"cosine_sim >= {threshold!r}D")


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.4,
    round_scale: int = 5,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    k-means-cluster the embedding corpus, restrict the quadratic near-dup
    search to WITHIN each cluster, and elect one keeper per semantic
    duplicate group (drop every vector that has a smaller-id neighbor with
    cosine ≥ threshold in its cell — the same deterministic min-id election
    q109's exact-dedup pipeline uses).

    Returns one row per input vector: (id, cell, kept ∈ {0,1}).

    Scale shape: the cluster assignment is a map-side broadcast pass
    (``kmeans_cells``); the pair search is an equi-join on ``cell`` — the
    per-cell quadratic is bounded by the largest cluster, never the corpus,
    and ``k`` grows with the corpus to hold cluster sizes constant (the
    SemDeDup paper runs k≈10⁵ over 5B embeddings). The dropped-set join is
    id-keyed and AQE-sized — no forced broadcasts, no driver collection.
    Centroid assignment is O(n·k) dot products (a map-side broadcast scan);
    once k itself is huge, swap the assignment stage for the IVF-PQ coarse
    quantizer (operators/pq.py) — the election stages here are unchanged.

    Deterministic end-to-end (hash-priority seeds, exact-decimal centroid
    means, rounded cosines, total-order ties), so it carries a full SQL
    oracle — reference analog: the canonicalization linkage election of
    database/data_quality.py, lifted from key-equality to embedding space.

    r13 (VERDICT r12 item 1): the within-cell election is ONE cogrouped
    Arrow kernel per cell (:func:`_cross_dropped_ids` with the cell rows
    on both sides — the election :func:`fold_semantic_index` runs too)
    instead of a cell equi-join — the join materialized cell² pair ROWS
    (each carrying two full vectors) through the exchange and scored each
    with the interpreted HOF cosine (~35 µs/pair); the kernel scores the
    cell tile with the brute_force_near_dup_pairs sequential-dim numpy
    kernel (bit-identical floats, pinned by the unchanged q138/q141
    oracle hashes), and emits only the dropped ids. Peak task memory is
    the cell matrices plus one chunk×cell tile (a-axis chunked), so a
    skew-bloated cell degrades to more chunk passes, not OOM."""
    cells = kmeans_cells(df, id_col, vec_col, k, iters, round_scale)
    sides = cells.select(
        "cell", F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    )
    dropped = _cross_dropped_ids(
        sides,
        sides,
        df.schema[id_col].dataType.simpleString(),
        "__dropped_id",
        threshold,
        round_scale,
    )
    return cells.join(
        dropped, cells[id_col] == F.col("__dropped_id"), "left"
    ).select(
        id_col,
        "cell",
        F.when(F.col("__dropped_id").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("kept"),
    )


def fold_semantic_index(
    spark,
    target_root: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.4,
    round_scale: int = 5,
) -> None:
    """Fold a batch of NEW vectors into a persistent semantic-dedup index
    (the incremental form of :func:`semantic_dedup`, same lifecycle as
    fold_pq_codes: train once, fold forever).

    - Batch 0 trains the k-means centroids and FREEZES them (re-fitting
      would silently re-cell every previously indexed vector).
    - Every batch: assign new vectors to the frozen centroids (map-side
      broadcast pass), score ONLY the pairs that involve a new vector —
      new×stored plus new×new within each cell — and append the losers
      (the larger id of any pair at cosine ≥ threshold) to an append-only
      ``dropped`` log. A kept flag is NOT stored: keeping is "not in the
      dropped log", and the log is monotone — a later batch can demote a
      stored vector (smaller new id arrives), never revive one. Because
      every qualifying pair is scored exactly when its later-arriving
      member folds, the accumulated state equals the one-shot election
      under the same frozen centroids at ANY batch order after batch 0
      (pinned by tests and the q141 oracle).
    - Commit I/O is O(batch): centroids once, per-batch ``vectors`` and
      ``dropped`` parts under one atomic manifest pointer.
    """
    from ..streaming.store import read_table, store_commit_parts

    cents = read_table(spark, target_root, "centroids")
    parts = {}
    if cents is None:
        cents = kmeans_centroids(new_vectors, id_col, vec_col, k, iters, round_scale)
        parts["centroids"] = cents
    assigned = ivf_assign(new_vectors, cents, id_col, vec_col, "cell", round_scale)

    stored = read_table(spark, target_root, "vectors")
    universe = assigned if stored is None else assigned.unionByName(stored)
    # r13: per-cell cogrouped Arrow kernel instead of the cell equi-join +
    # per-pair HOF cosine (the q138 rewrite, cross-shaped): each vector
    # ships through the shuffle once, the new×universe tile is scored
    # vectorized, only loser ids come back
    dropped = _cross_dropped_ids(
        assigned.select(
            "cell", F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
        ),
        universe.select(
            "cell", F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
        ),
        new_vectors.schema[id_col].dataType.simpleString(),
        id_col,
        threshold,
        round_scale,
    )
    parts["vectors"] = assigned
    # ADVICE r13: the kernel dedupes only within a cell cogroup — an id
    # appearing in two cells of the universe (a re-ingested id assigned to
    # a different cell across folds) could otherwise write duplicate rows
    # into the stored part. Keep the stored 'dropped' part unique-per-id
    # (the contract the replaced .distinct() join provided).
    parts["dropped"] = dropped.dropDuplicates()
    store_commit_parts(parts, target_root)


def _cross_dropped_ids(
    new_rows: DataFrame,
    uni_rows: DataFrame,
    id_dt: str,
    out_col: str,
    threshold: float,
    round_scale: int,
) -> DataFrame:
    """Per-cell new×universe election of every semantic-dedup path
    (:func:`semantic_dedup` passes the same rows on both sides,
    :func:`fold_semantic_index` the new batch against new ∪ stored): emit
    ``greatest(new_id, uni_id)`` of every qualifying within-cell pair, once
    per cell.

    Parity with the replaced join + HOF-filter plan: sequential-over-dims
    accumulation (``_seq_norm`` order), half-away-from-zero rounding, and
    Spark's NaN-greatest comparison — a pair whose cosine is NaN from a
    NaN ELEMENT did qualify (``NaN >= t`` is TRUE) and still does. Two
    deliberate divergences for corrupt data (r13 review): a pair touching
    a null-element / NULL / length-mismatched vector was NULL ≥ t →
    filtered, so those rows are flagged JVM-side and never qualify (the
    Arrow boundary would otherwise blur them into NaN = qualify); and a
    ZERO-NORM vector — where the HOF plan raised DIVIDE_BY_ZERO under the
    session's ANSI default — takes the kernel family's degenerate-pair
    NULL contract instead (_pair_cosine_scores): it never qualifies,
    rather than silently deleting every larger-id vector in its cell or
    killing the job."""
    import numpy as np
    import pandas as pd

    scale = 10**round_scale
    left = new_rows.withColumn("__pnull", F.expr("exists(__vec, x -> x is null)"))
    # fresh aliases on the right: both sides can derive from the same plan
    # (the brute_force_near_dup_pairs cogroup self-join note)
    right = uni_rows.select(
        "cell",
        F.col("__id").alias("__rid"),
        F.col("__vec").alias("__rvec"),
        F.expr("exists(__vec, x -> x is null)").alias("__rpnull"),
    )

    def _elect(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({out_col: lpdf["__id"][:0]})
        if lpdf.empty or rpdf.empty:
            return empty
        l_ids = lpdf["__id"].to_numpy()
        r_ids = rpdf["__rid"].to_numpy()
        l_ok = ~lpdf["__pnull"].fillna(True).to_numpy(dtype=bool)
        r_ok = ~rpdf["__rpnull"].fillna(True).to_numpy(dtype=bool)
        l_len = np.array([len(v) if v is not None else -1 for v in lpdf["__vec"]])
        r_len = np.array([len(v) if v is not None else -1 for v in rpdf["__rvec"]])
        out = []
        for L in np.unique(l_len[l_ok & (l_len >= 0)]):
            li = np.nonzero(l_ok & (l_len == L))[0]
            ri = np.nonzero(r_ok & (r_len == L))[0]
            if not len(li) or not len(ri):
                continue
            lm = np.array([list(lpdf["__vec"].iloc[i]) for i in li], dtype=np.float64)
            rm = np.array([list(rpdf["__rvec"].iloc[i]) for i in ri], dtype=np.float64)
            ln, rn = _seq_norm(lm, L), _seq_norm(rm, L)
            # zero-norm → never qualifies (see the docstring)
            lzn, rzn = ln == 0, rn == 0
            lv, rv = l_ids[li], r_ids[ri]
            chunk = max(1, 4_000_000 // len(ri))
            for lo in range(0, len(li), chunk):
                hi = min(lo + chunk, len(li))
                acc = np.zeros((hi - lo, len(ri)))
                for d in range(L):  # sequential over dims: order parity
                    acc += lm[lo:hi, d, None] * rm[None, :, d]
                with np.errstate(invalid="ignore", divide="ignore"):
                    sims = acc / (ln[lo:hi, None] * rn[None, :])
                    sims = (
                        np.floor(np.abs(sims) * scale + 0.5) / scale * np.sign(sims)
                    )
                qual = (sims >= threshold) | np.isnan(sims)
                qual &= ~(lzn[lo:hi, None] | rzn[None, :])
                qual &= lv[lo:hi, None] != rv[None, :]
                ai, bj = np.nonzero(qual)
                if len(ai):
                    out.append(np.maximum(lv[lo:hi][ai], rv[bj]))
        if not out:
            return empty
        return pd.DataFrame({out_col: np.unique(np.concatenate(out))})

    return (
        left.groupBy("cell")
        .cogroup(right.groupBy("cell"))
        .applyInPandas(_elect, f"{out_col} {id_dt}")
    )


def semantic_index_state(spark, target_root: str, id_col: str = "vec_id") -> DataFrame:
    """Accumulated (id, cell, kept) of a folded semantic-dedup index."""
    from ..streaming.store import read_table

    vecs = read_table(spark, target_root, "vectors")
    dropped = read_table(spark, target_root, "dropped")
    d = dropped.select(F.col(id_col).alias("__dropped_id")).distinct()
    return vecs.join(d, vecs[id_col] == F.col("__dropped_id"), "left").select(
        id_col,
        "cell",
        F.when(F.col("__dropped_id").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("kept"),
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 8,
    n_candidates: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 5,
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein
    1998, public): greedily select k of the ``n_candidates`` most relevant
    neighbors per query, each step maximizing
    ``0.7·relevance − 0.3·max_sim_to_already_selected``.

    Shape for 10^9 queries: candidate generation is ``cosine_topk``
    (corpus never shuffles), the pairwise candidate-similarity matrix is a
    per-query C×C equi-join (config-bounded, C=n_candidates), and the
    greedy loop is ONE JVM fold (``aggregate`` over sequence(1,k)) on a
    one-row-per-query matrix column — no per-step shuffle, no Python
    worker, no driver loop. Determinism: similarities are rounded to
    ``round_scale`` before any comparison, ties break on candidate rank,
    and ``+0.0`` normalizes ``-0.0`` so the score sort is engine-invariant.

    Returns (query_id, pos, neighbor_id, relevance), pos = 1..k in
    selection order.
    """
    cand = cosine_topk(
        corpus, queries, id_col=id_col, vec_col=vec_col, k=n_candidates,
        round_scale=round_scale,
    )
    e = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _to_double(F.col(vec_col)).alias("__v"),
        l2_norm(_to_double(F.col(vec_col))).alias("__n"),
    )
    ce = cand.join(e, "neighbor_id")
    a = ce.select(
        "query_id",
        F.col("rank").alias("a_rn"),
        F.col("neighbor_id").alias("a_id"),
        F.col("cosine_sim").alias("rel"),
        F.col("__v").alias("__av"),
        F.col("__n").alias("__an"),
    )
    b = ce.select(
        "query_id",
        F.col("rank").alias("b_rn"),
        F.col("__v").alias("__bv"),
        F.col("__n").alias("__bn"),
    )
    # full C×C matrix incl. the diagonal — positional indexing stays 1:1
    # with candidate rank; the diagonal is never read by the fold (a
    # selected candidate leaves `rem` before it could index itself).
    pairs = a.join(b, "query_id").select(
        "query_id",
        "a_rn",
        "a_id",
        "rel",
        "b_rn",
        F.round(
            dot(F.col("__av"), F.col("__bv")) / (F.col("__an") * F.col("__bn")),
            round_scale,
        ).alias("sim"),
    )
    rowsim = pairs.groupBy("query_id", "a_rn", "a_id", "rel").agg(
        F.expr("transform(array_sort(collect_list(struct(b_rn, sim))), s -> s.sim)").alias(
            "sims"
        )
    )
    per_q = rowsim.groupBy("query_id").agg(
        F.expr("transform(array_sort(collect_list(struct(a_rn, rel))), s -> s.rel)").alias(
            "rels"
        ),
        F.expr("transform(array_sort(collect_list(struct(a_rn, a_id))), s -> s.a_id)").alias(
            "ids"
        ),
        F.expr("transform(array_sort(collect_list(struct(a_rn, sims))), s -> s.sims)").alias(
            "mat"
        ),
    )
    # the greedy fold: state = (chosen ranks, remaining ranks); each step
    # picks argmin of (-(λ·rel − (1−λ)·max sim to chosen), rank)
    pick = (
        "element_at(array_sort(transform(st.rem, r -> struct("
        "-(0.7D * element_at(rels, r) - 0.3D * if(size(st.ch) = 0, 0.0D, "
        "array_max(transform(st.ch, b -> element_at(element_at(mat, r), b))))) + 0.0D AS s, "
        "r AS r))), 1).r"
    )
    sel = F.expr(
        f"""aggregate(
            sequence(1, {int(k)}),
            struct(cast(array() as array<int>) as ch, sequence(1, size(rels)) as rem),
            (st, step) -> if(size(st.rem) = 0, st,
                struct(concat(st.ch, array({pick})) as ch,
                       filter(st.rem, rr -> rr != {pick}) as rem))
        ).ch"""
    )
    return per_q.select(
        "query_id", "rels", "ids", F.posexplode(sel).alias("pos0", "rn")
    ).select(
        "query_id",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.element_at("ids", F.col("rn")).alias("neighbor_id"),
        F.element_at("rels", F.col("rn")).alias("relevance"),
    )
