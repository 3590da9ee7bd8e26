"""Deterministic weighted sampling (with replacement) — the data-mixing
primitive a training pipeline uses to draw a corpus according to quality /
importance weights (e.g. DSIR weights, q128) instead of uniformly.

Never ``rand()`` (the repo-wide determinism contract): the k draws are
md5-derived integer targets into the corpus's cumulative-weight axis, so
retries, re-runs, and different partitionings produce the identical sample,
and a DuckDB oracle can state the same arithmetic exactly.

Why with-replacement: the classic WITHOUT-replacement orderings
(Efraimidis–Spirakis ``u^(1/w)``) need pow/ln, which are not cross-engine
bit-stable (ROADMAP gotcha: no transcendentals in gated paths). Inverse-CDF
sampling with replacement is exact INTEGER arithmetic end to end —
cumulative sums of integer weights, one modular draw per sample — which is
also what mixture sampling at scale actually wants (a 100 TB run draws far
fewer samples than rows per source, so collisions are rare and replacement
is statistically immaterial).

Scale shape: ONE distributed prefix-sum (operators/ranking.global_cumsum —
range-partitioned, no single-task window), one tiny per-stratum totals
aggregate, and a bucketed equi-join of the k probes against weight
intervals: each row lands in ``ceil(w/bucket)`` ≈ 1 buckets, each probe in
exactly one, so the join is hash-partitioned with no n×k nested loop. The
1-row total and the k-row probe frames are explicitly broadcast (the
whitelisted constant-side pattern); every division is integer ``DIV`` —
double division would silently lose exactness past 2^53 total weight.

Draw arithmetic: ``u_j`` is the top 15 hex chars (60 bits) of
``md5(seed|j)`` — fits a signed 64-bit int in both engines — and the target
is ``u_j mod W + 1`` ∈ [1, W]. The modular fold carries a deterministic
bias < W / 2^60 (identical in the oracle, so parity is exact); callers with
W approaching 2^60 total weight should rescale weights first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._cache import persist_tracked
from .ranking import global_cumsum

#: buckets per (stratum's) weight axis for the probe equi-join
SAMPLE_BUCKETS = 64


def _draw60(key: Column) -> Column:
    """Deterministic 60-bit integer from md5(key) — top 15 hex chars."""
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")


def weighted_sample_with_replacement(
    df: DataFrame,
    k: int,
    weight_col: str,
    order_cols: list[str],
    seed: str = "ws",
) -> DataFrame:
    """k rows drawn with replacement, P(row) ∝ its positive integer weight;
    output = the row's columns plus ``sample_idx`` (0..k-1), one output row
    per draw (a row drawn twice appears twice, with distinct indices).

    ``order_cols`` must be a total order over ``df`` (it fixes each row's
    interval on the cumulative axis — the determinism anchor, same contract
    as global_cumsum). NULL or non-positive weights are excluded: a
    zero-weight row is never drawn.

    The k-row contract holds only when the filtered corpus is non-empty
    (total weight W > 0). With zero drawable rows the result is EMPTY, not
    k rows — every probe's target is ``u mod NULL`` = NULL and no interval
    matches (r16 ADVICE: documented rather than raised, because raising
    would force an eager count job on an otherwise fully lazy plan; a
    caller mixing sources who must distinguish "empty stratum" from a
    sampler bug should assert ``df.filter(w > 0).limit(1).count()``
    first). Same contract for the stratified form: a stratum with no
    positive-weight rows contributes zero output rows, not
    ``k_per_stratum``.
    """
    w = F.col(weight_col).cast("long")
    base = df.filter(w.isNotNull() & (w > 0))
    cum = global_cumsum(base, [F.col(c) for c in order_cols], w, out_col="__hi")
    # materialized once: the total (probe side) and the interval join (row
    # side) would otherwise each re-run the prefix-sum over the corpus
    # (tracked persist — callers release via _cache.release_caches())
    cum = persist_tracked(cum.withColumn("__lo", F.col("__hi") - w))

    total = cum.agg(F.max("__hi").alias("__W")).withColumn(
        "__bs", F.expr(f"(__W + {SAMPLE_BUCKETS - 1}) DIV {SAMPLE_BUCKETS}")
    )  # 1 row
    probes = (
        total.crossJoin(
            _spark_of(df).range(k).withColumnRenamed("id", "sample_idx")
        )
        .withColumn(
            "__t",
            _draw60(F.concat(F.lit(f"{seed}|"), F.col("sample_idx").cast("string")))
            % F.col("__W")
            + 1,
        )
        .withColumn("__b", F.expr("(__t - 1) DIV __bs"))
        .select("sample_idx", "__t", "__b")
    )
    rows = cum.crossJoin(F.broadcast(total)).withColumn(
        "__b",
        F.explode(F.sequence(F.expr("__lo DIV __bs"), F.expr("(__hi - 1) DIV __bs"))),
    )
    out = (
        rows.join(F.broadcast(probes), "__b")
        .filter((F.col("__t") > F.col("__lo")) & (F.col("__t") <= F.col("__hi")))
    )
    return out.select("sample_idx", *df.columns)


def weighted_sample_stratified(
    df: DataFrame,
    k_per_stratum: int,
    stratum_col: str,
    weight_col: str,
    order_cols: list[str],
    seed: str = "ws",
) -> DataFrame:
    """``k_per_stratum`` weighted draws WITHIN each stratum (the q48-style
    per-group quota composed with weighted selection — data mixing with
    per-source budgets). Scale-safe for mega-strata: the per-stratum
    cumulative axis is derived from ONE global prefix-sum ordered by
    (stratum, order) minus each stratum's starting offset (a tiny
    per-stratum aggregate, broadcast back) — no per-stratum window over a
    single task. Probe seeds include the stratum value, so adding a
    stratum never changes another stratum's sample.
    """
    w = F.col(weight_col).cast("long")
    base = df.filter(w.isNotNull() & (w > 0))
    order = [F.col(stratum_col)] + [F.col(c) for c in order_cols]
    cum = persist_tracked(global_cumsum(base, order, w, out_col="__g"))

    totals = (
        cum.groupBy(stratum_col)
        .agg(F.sum(w).alias("__Ws"), F.min(F.col("__g") - w).alias("__start"))
        .withColumn("__bs", F.expr(f"(__Ws + {SAMPLE_BUCKETS - 1}) DIV {SAMPLE_BUCKETS}"))
    )  # one row per stratum
    probes = (
        totals.crossJoin(
            _spark_of(df).range(k_per_stratum).withColumnRenamed("id", "sample_idx")
        )
        .withColumn(
            "__t",
            _draw60(
                F.concat_ws(
                    "|",
                    F.lit(seed),
                    F.col(stratum_col).cast("string"),
                    F.col("sample_idx").cast("string"),
                )
            )
            % F.col("__Ws")
            + 1,
        )
        .withColumn("__b", F.expr("(__t - 1) DIV __bs"))
        .select(stratum_col, "sample_idx", "__t", "__b")
    )
    rows = (
        cum.join(F.broadcast(totals), stratum_col)
        .withColumn("__hi", F.col("__g") - F.col("__start"))
        .withColumn("__lo", F.col("__hi") - w)
        .withColumn(
            "__b",
            F.explode(
                F.sequence(F.expr("__lo DIV __bs"), F.expr("(__hi - 1) DIV __bs"))
            ),
        )
    )
    out = (
        rows.join(F.broadcast(probes), [stratum_col, "__b"])
        .filter((F.col("__t") > F.col("__lo")) & (F.col("__t") <= F.col("__hi")))
    )
    return out.select("sample_idx", *df.columns)


def weighted_sample_without_replacement(
    df: DataFrame,
    k: int,
    weight_col: str,
    order_cols: list[str],
    seed: str = "wsr",
) -> DataFrame:
    """k DISTINCT rows, weighted without replacement (r16, VERDICT r15
    item 4 — the k-distinct form the with-replacement sampler documents
    away): output = ``sample_rank`` (0..k-1 in selection order) plus the
    row's columns, each drawn row exactly once.

    Semantics: FIRST-K-DISTINCT of the deterministic with-replacement
    probe stream — probes j = 0, 1, 2, … each hit one row by the q164
    inverse-CDF arithmetic; a row's selection key is the SMALLEST probe
    index that hits it, and the k rows with the smallest keys win, ranked
    by key. Drawing with replacement and skipping repeats IS successive
    weighted sampling without replacement (each next distinct row appears
    with probability proportional to weight among the not-yet-drawn), so
    this matches the Efraimidis–Spirakis distribution without pow/ln —
    exact integer arithmetic end to end, same modular-fold bias note as
    the module doc.

    The probe count is data-determined: rounds double the probe prefix
    (starting at ``max(4k, 64)`` probes) until it covers ≥ k
    distinct rows, and the result is INVARIANT to the stopping round —
    first-k-distinct by min probe index only depends on the stream prefix
    up to the k-th distinct hit, so any probe count at or past that point
    (including an oracle's fixed larger one) selects the identical rows
    with identical ranks. Each round is one bucketed probe equi-join (the
    q164 shape) + a count; under heavy weight skew rounds grow
    geometrically for up to 16 rounds (then raises — rescale weights).

    Degenerate contracts: fewer than k positive-weight rows returns ALL of
    them, ``sample_rank`` ordered by ``order_cols`` (a size-≥n WOR sample
    is the whole corpus; probing would never terminate on the tail no
    probe hits soon); an empty corpus returns 0 rows (the with-replacement
    empty-input contract).
    """
    w = F.col(weight_col).cast("long")
    base = df.filter(w.isNotNull() & (w > 0))
    cum = global_cumsum(base, [F.col(c) for c in order_cols], w, out_col="__hi")
    cum = persist_tracked(cum.withColumn("__lo", F.col("__hi") - w))
    stats = cum.agg(F.max("__hi").alias("W"), F.count("*").alias("n")).first()
    n = int(stats["n"] or 0)
    if n == 0:
        return (
            cum.withColumn("sample_rank", F.lit(0).cast("int"))
            .select("sample_rank", *df.columns)
            .limit(0)
        )
    if n <= k:
        wnd = Window.orderBy(*[F.col(c) for c in order_cols])  # n <= k rows
        return (
            cum.withColumn("sample_rank", (F.row_number().over(wnd) - 1).cast("int"))
            .select("sample_rank", *df.columns)
        )

    total = cum.agg(F.max("__hi").alias("__W")).withColumn(
        "__bs", F.expr(f"(__W + {SAMPLE_BUCKETS - 1}) DIV {SAMPLE_BUCKETS}")
    )  # 1 row
    rows = cum.crossJoin(F.broadcast(total)).withColumn(
        "__b",
        F.explode(F.sequence(F.expr("__lo DIV __bs"), F.expr("(__hi - 1) DIV __bs"))),
    )
    spark = _spark_of(df)
    max_rounds = 16
    m = max(4 * k, 64)
    first_hits = None
    for _ in range(max_rounds):
        probes = (
            total.crossJoin(spark.range(m).withColumnRenamed("id", "__j"))
            .withColumn(
                "__t",
                _draw60(F.concat(F.lit(f"{seed}|"), F.col("__j").cast("string")))
                % F.col("__W")
                + 1,
            )
            .withColumn("__b", F.expr("(__t - 1) DIV __bs"))
            .select("__j", "__t", "__b")
        )
        # broadcast the probe frame while it is small; a skew-forced deep
        # round falls back to a shuffle join rather than shipping millions
        # of probes to every task
        pr = F.broadcast(probes) if m <= (1 << 20) else probes
        hits = (
            rows.join(pr, "__b")
            .filter((F.col("__t") > F.col("__lo")) & (F.col("__t") <= F.col("__hi")))
            .groupBy("__lo")
            .agg(F.min("__j").alias("__fh"))
        )
        hits = persist_tracked(hits)
        if hits.count() >= k:
            first_hits = hits
            break
        m *= 2
    if first_hits is None:
        raise ValueError(
            f"weighted_sample_without_replacement: {max_rounds} probe-"
            f"doubling rounds (final prefix {m}) did not reach {k} distinct "
            "rows — the weight distribution is extremely skewed; rescale "
            "weights (cap the dominant mass) or lower k."
        )
    sel = first_hits.orderBy("__fh").limit(k)  # TakeOrderedAndProject
    wnd = Window.orderBy("__fh")  # <= k rows post-limit: bounded frame
    sel = sel.withColumn("sample_rank", (F.row_number().over(wnd) - 1).cast("int"))
    return cum.join(sel, "__lo").select("sample_rank", *df.columns)


def _spark_of(df: DataFrame):
    return df.sparkSession
