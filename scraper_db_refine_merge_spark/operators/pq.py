"""Product-quantization ANN (r6): the vector-compression scale path.

At 100 TB of embeddings, even the LSH/IVF indexes (operators/similarity.py)
still store full float vectors. Product quantization (Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011) compresses each
d-dim vector to ``m`` one-byte codes — 64 floats (256 B) → 8 codes — and
answers queries with Asymmetric Distance Computation (ADC): the query stays
uncompressed, each candidate's distance is the sum of ``m`` precomputed
sub-distances looked up by code. A 100 TB corpus becomes a ~3 TB code
table; the ADC scan reads codes, never vectors.

Determinism / oracle parity:
- Codebook = the subvectors of ``k`` md5-priority sample vectors (a sampled
  codebook — the honest baseline; k-means refinement of codebooks is the
  same deterministic machinery as q51's coarse quantizer and would slot in
  per subspace). Sampling by md5 keeps the codebook engine-independent.
- Sub-distances are sequential-fold sums in array order (zip_with +
  aggregate ≡ DuckDB list_sum(list_transform)) — bit-identical doubles —
  and ADC partials are converted to integer micro-units with
  ``floor(d2·1e6 + 0.5)`` BEFORE summation, so the per-candidate ADC score
  is an order-independent BIGINT sum (never a float sum across engines).
- Code assignment compares raw (bit-identical) sub-distances with the
  codeword index as tie-break.

Scale shape: the codebook is config-constant (m·k subvectors) — the one
relation here that is driver-collected and shipped in a kernel closure,
same class as region/nation and the r12 ivf_assign coarse quantizer.
Encoding is ONE Arrow-batched mapInPandas pass over the vectors (r12: the
old form exploded to m rows per vector, joined the broadcast codebook to
m·k rows per vector, and picked the argmin with a window PARTITION BY
(vector, subspace) — a corpus×m·k-row shuffle for what is semantically a
map; at 100 TB that exchange dwarfs the code table PQ exists to shrink).
The ADC join broadcasts the query LUT (bounded by the query batch ×
m·k) onto the code table keyed by (subspace, code) — the corpus never
shuffles; the only wide exchange is the final (query, neighbor) partial
aggregation, map-side-combined to |queries|·|corpus| rows, which is the
ADC scan PQ exists to make cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._cache import memo

PQ_M = 8  # subspaces
PQ_DSUB = 8  # dims per subspace (m · dsub = 64, the corpus dim)
PQ_K = 16  # codewords per subspace


def _subvectors(df: DataFrame, id_col: str, vec_col: str, out_id: str) -> DataFrame:
    """Explode vectors into (out_id, s, sv): one row per subspace, sv the
    dsub-dim double subvector. Narrow map, zero shuffle."""
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.transform(
                    F.slice(F.col(vec_col), s * PQ_DSUB + 1, PQ_DSUB),
                    lambda x: x.cast("double"),
                ).alias("sv"),
            )
            for s in range(PQ_M)
        ]
    )
    return df.select(F.col(id_col).alias(out_id), F.explode(subs).alias("p")).select(
        out_id, F.col("p.s").alias("s"), F.col("p.sv").alias("sv")
    )


def _d2(a: F.Column, b: F.Column) -> F.Column:
    """Squared L2 distance, sequential fold in array order (bit-identical
    to DuckDB's list_sum(list_transform(...)))."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _collect_codebook(codebook: DataFrame) -> dict:
    """Collect a (s, j, cbv) codebook into {s: (j_sorted int32 array,
    codeword matrix float64 K×dsub)} for the encode kernel. The table is
    config-constant (m·k rows) — the same driver-collect class as
    ivf_assign's centroids; collecting makes construction EAGER (each
    trained codebook round is a job at build time, the iterative-algorithm
    shape pagerank / kmeans already have). Memoized per DataFrame object."""
    import numpy as np

    def _pack() -> dict:
        by_s: dict = {}
        for r in codebook.select("s", "j", "cbv").collect():
            by_s.setdefault(r[0], []).append((r[1], list(r[2])))
        packed = {}
        for s, lst in by_s.items():
            lst.sort(key=lambda t: t[0])
            packed[s] = (
                np.array([t[0] for t in lst], dtype=np.int32),
                np.array([t[1] for t in lst], dtype=np.float64),
            )
        return packed

    return memo(codebook, ("packed_codebook",), _pack)


def _pq_nearest(vmat, packed):
    """Nearest codeword per (vector row, subspace), vectorized. Float
    parity with the old zip_with/aggregate + window form: squared diffs
    accumulate SEQUENTIALLY over the dsub dims (vectorized over rows and
    codewords), argmin keeps the FIRST minimum (codewords sorted by j —
    the window's (d2 ASC, j ASC) total order), NaN distances map to +inf
    (Spark sorts NaN last ascending; an all-NaN row falls to j=0 either
    way). Yields (s, j_labels, best_idx, best_d2) per subspace."""
    import numpy as np

    n = vmat.shape[0]
    for s in sorted(packed):
        js, cmat = packed[s]
        dsub = cmat.shape[1]
        sub = vmat[:, s * dsub : (s + 1) * dsub]
        acc = np.zeros((n, cmat.shape[0]))
        for d in range(dsub):  # sequential over dims: order parity
            diff = sub[:, d, None] - cmat[None, :, d]
            acc += diff * diff
        best = np.argmin(np.where(np.isnan(acc), np.inf, acc), axis=1)
        yield s, js, best, acc[np.arange(n), best]


def _packed_dim(packed: dict) -> int:
    """Total vector dimensionality a packed codebook encodes (Σ dsub)."""
    return sum(cmat.shape[1] for _js, cmat in packed.values())


def _vmat_fixed(vs, expected_dim):
    """Arrow vector batch → (n, expected_dim) float64 matrix, degenerate
    rows NaN-padded (ADVICE r12: ``list(None)`` raised, ragged batches
    raised, long vectors silently truncated-scored). Parity with the
    pre-kernel expression plans: a NULL vector / missing tail slice made
    the subspace d2 NULL, which sorted nulls-first to codeword j=0 and
    contributed NULL (skipped) error units — NaN pads reproduce exactly
    that through ``_pq_nearest``'s NaN→inf argmin (j=0, d2 NaN); a LONGER
    vector scored its first ``expected_dim`` dims (slice semantics), so
    the tail is truncated, not an error."""
    import numpy as np

    out = np.full((len(vs), expected_dim), np.nan)
    for i, v in enumerate(vs):
        if v is None:
            continue
        arr = np.asarray(v, dtype=np.float64)
        L = min(arr.shape[0], expected_dim)
        out[i, :L] = arr[:L]
    return out


def pq_codebook(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(s, j, cbv): per-subspace codewords = subvectors of the ``PQ_K``
    md5-priority sample vectors. Config-constant size (m·k rows).
    Memoized per (input frame, params) so the encode kernel's collect
    (one corpus top-k job) runs once per session, not per plan build."""

    def _build() -> DataFrame:
        pri = F.md5(F.col("__sid").cast("string"))
        seeds = (
            df.select(F.col(id_col).alias("__sid"), vec_col)
            .orderBy(pri, "__sid")  # TakeOrdered — per-partition top-k merge
            .limit(PQ_K)
            # row_number window runs over the k surviving rows only — bounded
            .withColumn("j", F.row_number().over(Window.orderBy(pri, "__sid")) - 1)
        )
        return _subvectors(seeds, "j", vec_col, "j").select(
            "s", "j", F.col("sv").alias("cbv")
        )

    return memo(df, ("pq_codebook", id_col, vec_col), _build)


def pq_codebook_trained(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    iters: int = 2,
) -> DataFrame:
    """Per-subspace k-means (Lloyd) refinement of the sampled codebook —
    the training step real PQ deployments run (Jégou 2011 §III trains each
    subquantizer with k-means); the md5-sampled ``pq_codebook`` is the
    honest zero-training baseline, this is the quality path.

    Same derandomized machinery as q51's coarse quantizer, applied per
    subspace: md5-priority init, raw sequential-fold d2 assignment with
    codeword-index tie-break, exact-DECIMAL per-dimension means rounded to
    6 places (order-independent across partial aggregations). A
    codeword that attracts no subvectors keeps its previous value
    (left-join + coalesce) — deterministic, never drops a code point.

    Scale shape (r12 rewrite): each round is ONE zero-shuffle kernel pass
    over the vectors (assignment + assigned subvector emitted together —
    the old form paid a corpus×m·k window shuffle AND a corpus×m join-back
    per round) feeding one (m·k·dsub)-group aggregation whose update state
    is config-constant. Rounds are EAGER (the collected-codebook /
    Lloyd-iteration shape kmeans_centroids has); the returned table is a
    LITERAL frame of the final collected codewords, so downstream plans
    (the ADC query LUT, pq_encode's kernel) never re-execute the training
    chain. Fixed ``iters`` keeps the oracle mirrorable (generated CTE per
    round). Memoized per (input frame, params): training is eager jobs
    now, and PQ deployment semantics are train-once/encode-forever."""

    def _train() -> DataFrame:
        cb = pq_codebook(df, id_col, vec_col)
        vecs = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v"))
        if iters > 1:
            # each Lloyd round is an eager job over the vectors; persist the
            # training input across rounds (released in the finally below
            # even if a round fails — ADVICE r12: eager collect jobs run
            # between persist and unpersist, so an exception leaked the
            # cache for the session) — real PQ trains on a bounded sample,
            # so this is executor-memory-sized by policy
            vecs = vecs.persist()
        try:
            cb = _train_rounds(df, cb, vecs, iters)
        finally:
            if iters > 1:
                vecs.unpersist()
        return _literal_codebook(df.sparkSession, cb)

    return memo(df, ("pq_trained", id_col, vec_col, iters), _train)


def _train_rounds(df, cb, vecs, iters):
    """The eager Lloyd loop of :func:`pq_codebook_trained` (factored so
    the persist lifecycle wraps it in one try/finally)."""
    import numpy as np
    import pandas as pd

    for _ in range(iters):
        # literal-ize the codebook BEFORE each round: cb is re-collected
        # (and re-planned by the update join) every round, and a lazy
        # chain would re-execute round r-1's pass inside round r —
        # O(iters^2) corpus work for an O(iters) algorithm
        cb = _literal_codebook(df.sparkSession, cb)
        packed = _collect_codebook(cb)

        exp_dim = _packed_dim(packed)

        def _asg(batches, packed=packed, exp_dim=exp_dim):
            for pdf in batches:
                if pdf.empty:
                    continue
                # training precondition: NULL / short vectors fail LOUDLY
                # (ADVICE r12 — list(None) used to die as an opaque
                # executor TypeError). Longer vectors train on their
                # first exp_dim dims, the pre-kernel slice semantics.
                bad = sum(
                    1 for v in pdf["__v"] if v is None or len(v) < exp_dim
                )
                if bad:
                    raise ValueError(
                        f"pq_codebook_trained: {bad} vector(s) in a batch of "
                        f"{len(pdf)} are NULL or shorter than the codebook "
                        f"dimensionality {exp_dim}; PQ training requires "
                        f"non-null fixed-dim vectors — filter or pad upstream"
                    )
                vmat = _vmat_fixed(pdf["__v"], exp_dim)
                frames = []
                for s, js, best, _dm in _pq_nearest(vmat, packed):
                    dsub = packed[s][1].shape[1]
                    frames.append(
                        pd.DataFrame(
                            {
                                "s": np.full(len(best), s, dtype=np.int32),
                                "j": js[best],
                                "sv": list(vmat[:, s * dsub : (s + 1) * dsub]),
                            }
                        )
                    )
                if frames:
                    yield pd.concat(frames, ignore_index=True)

        asgsv = vecs.mapInPandas(_asg, "s int, j int, sv array<double>")
        upd = (
            asgsv.select("s", "j", F.posexplode("sv").alias("pos0", "val"))
            .groupBy("s", "j", (F.col("pos0") + 1).alias("pos"))
            .agg(
                F.round(
                    F.sum(F.col("val").cast("decimal(18,12)")).cast("double")
                    / F.count("*"),
                    6,
                ).alias("cval")
            )
            .groupBy("s", "j")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                    lambda st: st["cval"],
                ).alias("__new")
            )
        )
        cb = cb.join(upd, ["s", "j"], "left").select(
            "s", "j", F.coalesce("__new", "cbv").alias("cbv")
        )
    # the final _literal_codebook in the caller makes the returned table a
    # LocalTableScan: training already ran eagerly above; re-planning the
    # iteration chain for every consumer would re-pay it per subtree
    return cb


def _literal_codebook(spark, cb: DataFrame) -> DataFrame:
    """Collect a codebook and rebuild it as a LocalTableScan (values
    unchanged — the collected doubles round-trip exactly), registering the
    packed form in its memo so kernels never re-collect it."""
    final = _collect_codebook(cb)
    lit_rows = [
        (int(s), int(j), [float(x) for x in cw])
        for s in sorted(final)
        for j, cw in zip(final[s][0], final[s][1])
    ]
    out = spark.createDataFrame(lit_rows, "s int, j int, cbv array<double>")
    memo(out, ("packed_codebook",), lambda: final)
    return out


def pq_quantization_error(
    df: DataFrame, codebook: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """One row ``(err_units BIGINT)``: total squared quantization error of
    encoding ``df`` against ``codebook``, per-subvector d2 floored into
    integer micro-units BEFORE the sum (order-independent, cross-engine
    exact) — the metric codebook training must strictly improve.

    r12: one kernel pass emitting the assigned codeword's d2 directly
    (the argmin the encode kernel already computes) — the old form paid
    the encode window shuffle plus TWO corpus joins to re-derive exactly
    that number."""
    import numpy as np
    import pandas as pd

    packed = _collect_codebook(codebook)
    vecs = df.select(F.col(vec_col).alias("__v"))
    if not packed:
        # parity with the old empty-join shape: SUM over zero rows is NULL
        return vecs.filter(F.lit(False)).agg(
            F.sum(F.lit(None).cast("long")).alias("err_units")
        )

    exp_dim = _packed_dim(packed)

    def _err(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            # NULL/short vectors → NaN pads → NaN d2 → NULL error units,
            # skipped by the SUM — the old expression plan's behavior
            vmat = _vmat_fixed(pdf["__v"], exp_dim)
            units = np.zeros(0)
            for _s, _js, _best, dmin in _pq_nearest(vmat, packed):
                units = np.concatenate([units, np.floor(dmin * 1_000_000 + 0.5)])
            yield pd.DataFrame({"__u": units})

    return (
        vecs.mapInPandas(_err, "__u double")
        .select(F.col("__u").cast("long").alias("__u"))
        .agg(F.sum("__u").alias("err_units"))
    )


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    id_col: str,
    vec_col: str,
    carry: tuple = (),
) -> DataFrame:
    """(vec_id, s, code[, *carry]): nearest codeword per (vector, subspace)
    — raw-double distance compare, codeword index tie-break. The codebook
    is config-constant and driver-collected (region/nation class, memoized
    per codebook frame).

    r12: ONE zero-shuffle mapInPandas kernel over the vectors. The old
    form exploded to m rows/vector, joined the broadcast codebook (m·k
    rows/vector) and ran a window PARTITION BY (vector, subspace) — a
    corpus×m·k-row exchange per encode; at 100 TB encoding is the bulk
    pass of the pipeline and must be a map. ``carry`` names extra input
    columns replicated onto each output row (ivf_pq_topk ships ``cell``
    through instead of a corpus join-back)."""
    import numpy as np
    import pandas as pd

    packed = _collect_codebook(codebook)
    id_t = df.schema[id_col].dataType.simpleString()
    carry_ts = {c: df.schema[c].dataType.simpleString() for c in carry}
    cols = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v"), *carry)
    out_schema = ", ".join(
        [f"vec_id {id_t}", "s int", "code int"]
        + [f"`{c}` {t}" for c, t in carry_ts.items()]
    )
    if not packed:
        return cols.selectExpr(
            "vec_id", "CAST(NULL AS INT) s", "CAST(NULL AS INT) code", *carry
        ).filter(F.lit(False))

    exp_dim = _packed_dim(packed)

    def _enc(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            # NULL/short vectors → NaN pads → NaN d2 → argmin j=0: the
            # pre-kernel window's nulls-first rank-1 behavior, row kept
            vmat = _vmat_fixed(pdf["__v"], exp_dim)
            ids = pdf["vec_id"].to_numpy()
            frames = []
            for s, js, best, _dm in _pq_nearest(vmat, packed):
                part = {
                    "vec_id": ids,
                    "s": np.full(len(best), s, dtype=np.int32),
                    "code": js[best],
                }
                for c in carry:
                    part[c] = pdf[c].to_numpy()
                frames.append(pd.DataFrame(part))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return cols.mapInPandas(_enc, out_schema)


def pq_adc_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_neighbors: int = 5,
    train_iters: int = 0,
) -> DataFrame:
    """ADC top-k: (query_id, neighbor_id, adc_units, rank) — approximate
    squared L2 in integer micro-units, ascending, neighbor id tie-break.
    Queries score against PQ CODES only; their own row is excluded.
    ``train_iters > 0`` refines the codebook with that many per-subspace
    Lloyd rounds (q133) instead of the sampled baseline (q127)."""
    cb = (
        pq_codebook_trained(df, id_col, vec_col, iters=train_iters)
        if train_iters
        else pq_codebook(df, id_col, vec_col)
    )
    codes = pq_encode(df, cb, id_col, vec_col)
    qsub = _subvectors(queries, id_col, vec_col, "query_id")
    lut = qsub.join(F.broadcast(cb), "s").select(
        "query_id",
        "s",
        "j",
        F.floor(_d2(F.col("sv"), F.col("cbv")) * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("pd2"),
    )
    scored = (
        codes.join(
            F.broadcast(lut),
            (codes.s == lut.s) & (codes.code == lut.j) & (codes.vec_id != lut.query_id),
        )
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("pd2").alias("adc_units"))
    )
    from .ranking import topk_per_group

    # ADC scores are corpus-sized per query — two-phase top-k, not a
    # per-query single-task window (see similarity.cosine_topk)
    return topk_per_group(
        scored, ["query_id"], [F.col("adc_units"), F.col("neighbor_id")], k_neighbors
    ).select("query_id", "neighbor_id", "adc_units", "rank")


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k_neighbors: int = 5,
    nprobe: int = 2,
    train_iters: int = 0,
) -> DataFrame:
    """IVF-PQ (the FAISS IVFADC shape): coarse per-label centroid cells +
    product quantization of the RESIDUALS (v − centroid(cell)), queried by
    probing ``nprobe`` cells and running ADC with the query's PER-CELL
    residual. Residual quantization is what makes PQ codes sharp at scale:
    residual norms are much smaller than vector norms, so the same 16
    codewords cover a far tighter distribution.

    ``train_iters > 0`` refines the RESIDUAL codebook with that many
    per-subspace Lloyd rounds (pq_codebook_trained) instead of the
    md5-sampled baseline — residuals are exactly where k-means refinement
    pays most (FAISS trains IVFADC codebooks on residuals; Jégou 2011
    §IV-B), and the refinement state stays config-constant (m·k
    codewords), so the scale shape is unchanged: each round is one more
    broadcast-codebook join over the residual subvector map.

    Deterministic end-to-end: exact-decimal centroids (label_centroids),
    rounded-cosine cell assignment with id tie-breaks, md5-priority
    codebook sample, sequential-fold distances, integer micro-unit ADC.
    Scale shape: centroids and codebook are constant-size broadcasts;
    corpus → residual codes is a narrow map; the probe joins broadcast the
    query-side LUT (bounded by batch × nprobe × m·k); at production scale
    the code table is written bucketed by cell so each probe touches
    nprobe/n_cells of it — IVF pruning on top of 32× PQ compression.

    Centroid freeze (ADVICE r13): label_centroids collects and memoizes
    centroids per corpus DataFrame object at first plan build — executions
    against the same frame over mutated underlying files reuse the stale
    centroids. Re-``load_table`` or call ``_cache.forget(corpus)`` for
    long-lived sessions over mutable storage (see ivf_topk).
    """
    from .similarity import ivf_assign, label_centroids, probe_cells

    cent = label_centroids(corpus, vec_col, label_col)

    # corpus residuals vs own-cell centroid — memoized per (corpus frame,
    # params) so repeated builds hand pq_codebook_trained the SAME frame
    # object and its train-once memo hits (the resid plan itself is lazy)
    def _build_resid() -> DataFrame:
        assigned = ivf_assign(corpus, cent, id_col, vec_col, label_col)
        return assigned.join(
            F.broadcast(cent.withColumnRenamed(label_col, "cell")), "cell"
        ).select(
            id_col,
            "cell",
            F.zip_with(
                F.col(vec_col), "centroid", lambda x, y: x.cast("double") - y
            ).alias("rvec"),
        )

    resid = memo(corpus, ("pq_resid", id_col, vec_col, label_col), _build_resid)
    # pq_encode always emits the id as 'vec_id' — normalize the cell lookup
    # (and every downstream reference) to that name, or any non-default
    # id_col raises AnalysisException (ADVICE r6). r12: `cell` rides the
    # encode kernel (carry) instead of a corpus join-back shuffle.
    cb = (
        pq_codebook_trained(resid, id_col, "rvec", iters=train_iters)
        if train_iters
        else pq_codebook(resid, id_col, "rvec")
    )
    codes = pq_encode(resid, cb, id_col, "rvec", carry=("cell",))

    # query probes: nprobe nearest cells, residual per probed cell —
    # selection shared with ivf_topk (r13: expression-based for literal
    # broadcast-sized centroid tables, window fallback above the bound)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec"))
    probes = probe_cells(q, cent, label_col, nprobe).select(
        F.struct(F.col("query_id"), F.col("cell")).alias("qc"),
        F.zip_with(
            F.col("__qvec"), F.col("centroid"), lambda x, y: x.cast("double") - y
        ).alias("rvec"),
    )
    qsub = _subvectors(probes, "qc", "rvec", "qc")
    lut = qsub.join(F.broadcast(cb), "s").select(
        F.col("qc.query_id").alias("query_id"),
        F.col("qc.cell").alias("cell"),
        "s",
        "j",
        F.floor(_d2(F.col("sv"), F.col("cbv")) * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("pd2"),
    )
    scored = (
        codes.join(
            F.broadcast(lut),
            (codes.cell == lut.cell)
            & (codes.s == lut.s)
            & (codes.code == lut.j)
            & (codes.vec_id != lut.query_id),
        )
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("pd2").alias("adc_units"))
    )
    from .ranking import topk_per_group

    return topk_per_group(
        scored, ["query_id"], [F.col("adc_units"), F.col("neighbor_id")], k_neighbors
    ).select("query_id", "neighbor_id", "adc_units", "rank")


def fold_pq_codes(spark, target_root: str, new_vectors: DataFrame, id_col: str, vec_col: str) -> None:
    """Fold a batch of NEW vectors into a persistent PQ code index.

    Production PQ is train-once/encode-forever: the codebook is fitted on
    the first batch and FROZEN (re-fitting would silently re-mean every
    previously issued code), then each arriving batch is encoded against
    it and appended as an immutable ``codes`` part via the manifest store
    — commit I/O is O(batch), the accumulated code table is the union of
    parts, and codebook + codes move under one commit-log entry. Pair this
    with a partitionBy(cell) rewrite of the code parts for the IVF-PQ
    probe layout (tests/test_pq.py pins the pruning).
    """
    from ..streaming.store import read_table, store_commit_parts

    cb = read_table(spark, target_root, "codebook")
    parts = {}
    if cb is None:
        cb = pq_codebook(new_vectors, id_col, vec_col)
        parts["codebook"] = cb
    parts["codes"] = pq_encode(new_vectors, cb, id_col, vec_col)
    store_commit_parts(parts, target_root)


def pq_codes_from_index(spark, target_root: str) -> DataFrame:
    """The accumulated (vec_id, s, code) table of a folded PQ index."""
    from ..streaming.store import read_table

    codes = read_table(spark, target_root, "codes")
    if codes is None:
        # mirror contamination_scan's missing-index error (ADVICE r7 class)
        raise ValueError(f"no committed PQ index at {target_root}")
    return codes
