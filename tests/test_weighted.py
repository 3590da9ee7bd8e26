"""Deterministic weighted sampling (operators/weighted.py, q164/q165).

Exact-arithmetic properties the oracle gate can't see: proportionality of
draw frequency to weight, exclusion of non-positive weights, replacement
multiplicity, per-stratum quota exactness, and stratum independence.
"""

from __future__ import annotations

import pytest
import hashlib

from pyspark.sql import functions as F

from scraper_db_refine_merge_spark.operators.weighted import (
    weighted_sample_stratified,
    weighted_sample_with_replacement,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, src string, w long")


def test_weighted_sample_exact_inverse_cdf(spark):
    """Every draw equals the hand-computed inverse-CDF target: cumsum over
    doc_id order, target = (60-bit md5 int) mod W + 1."""
    rows = [(i, "s", (i * 7) % 23 + 1) for i in range(50)]
    df = _docs(spark, rows)
    k = 25
    got = {
        r["sample_idx"]: r["doc_id"]
        for r in weighted_sample_with_replacement(
            df, k, "w", ["doc_id"], seed="t"
        ).collect()
    }
    # python mirror
    cum, hi = [], 0
    for i, _s, w in rows:
        hi += w
        cum.append((i, hi - w, hi))
    W = hi
    for j in range(k):
        t = int(hashlib.md5(f"t|{j}".encode()).hexdigest()[:15], 16) % W + 1
        (want,) = [i for (i, lo, h) in cum if lo < t <= h]
        assert got[j] == want, j
    assert len(got) == k


def test_weighted_sample_proportionality_and_exclusions(spark):
    """A row holding 90% of the mass dominates the sample; zero/NULL
    weights are never drawn; duplicate draws appear with distinct
    indices (replacement)."""
    df = spark.createDataFrame(
        [(1, "s", 900), (2, "s", 50), (3, "s", 50), (4, "s", 0), (5, "s", None)],
        "doc_id long, src string, w long",
    )
    out = weighted_sample_with_replacement(df, 200, "w", ["doc_id"], seed="p").collect()
    assert len(out) == 200
    ids = [r["doc_id"] for r in out]
    assert 4 not in ids and 5 not in ids
    share = ids.count(1) / 200
    assert 0.8 < share < 1.0  # ~0.9 expected, deterministic constant
    assert len({r["sample_idx"] for r in out}) == 200


@pytest.mark.slow
def test_weighted_sample_partitioning_invariance(spark):
    """Same sample regardless of input partitioning (the determinism
    contract global_cumsum provides)."""
    rows = [(i, "s", i % 11 + 1) for i in range(200)]
    a = weighted_sample_with_replacement(
        _docs(spark, rows).repartition(1), 10, "w", ["doc_id"], seed="x"
    )
    b = weighted_sample_with_replacement(
        _docs(spark, rows).repartition(13), 10, "w", ["doc_id"], seed="x"
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


@pytest.mark.slow
def test_stratified_quota_and_independence(spark):
    """Exactly k draws per stratum; removing one stratum leaves every other
    stratum's sample unchanged (seeds include the stratum)."""
    rows = [(i, f"s{i % 3}", i % 7 + 1) for i in range(90)]
    df = _docs(spark, rows)
    out = weighted_sample_stratified(df, 4, "src", "w", ["doc_id"], seed="y")
    per = (
        out.groupBy("src").agg(F.count("*").alias("n")).collect()
    )
    assert {r["src"]: r["n"] for r in per} == {"s0": 4, "s1": 4, "s2": 4}

    sub = weighted_sample_stratified(
        df.filter(F.col("src") != "s2"), 4, "src", "w", ["doc_id"], seed="y"
    )
    full = {
        tuple(r) for r in out.filter(F.col("src") != "s2").collect()
    }
    assert {tuple(r) for r in sub.collect()} == full


@pytest.mark.slow
def test_weighted_sample_empty_and_zero_weight_inputs_yield_zero_rows(spark):
    """r16 ADVICE: the k-row contract requires positive total weight; an
    empty/all-nonpositive corpus yields ZERO rows (documented), not k."""
    empty = _docs(spark, []).filter(F.lit(False))
    assert weighted_sample_with_replacement(empty, 5, "w", ["doc_id"]).count() == 0
    zeros = _docs(spark, [(1, "a", 0), (2, "b", 0)])
    assert weighted_sample_with_replacement(zeros, 5, "w", ["doc_id"]).count() == 0
    # stratified: an all-zero stratum contributes nothing; the live stratum
    # still meets its quota
    mixed = _docs(spark, [(1, "dead", 0), (2, "live", 3), (3, "live", 2)])
    out = weighted_sample_stratified(mixed, 4, "src", "w", ["doc_id"]).collect()
    assert len(out) == 4 and {r["src"] for r in out} == {"live"}


def _wor_mirror(rows, k, seed):
    """Python mirror: first-k-distinct of the with-replacement probe
    stream, ranked by first-hit probe index."""
    cum, hi = [], 0
    for i, _s, w in rows:
        if w and w > 0:
            hi += w
            cum.append((i, hi - w, hi))
    W = hi
    first_hit, j = {}, 0
    while len(first_hit) < k:
        t = int(hashlib.md5(f"{seed}|{j}".encode()).hexdigest()[:15], 16) % W + 1
        (doc,) = [i for (i, lo, h) in cum if lo < t <= h]
        first_hit.setdefault(doc, j)
        j += 1
    order = sorted(first_hit.items(), key=lambda kv: kv[1])[:k]
    return [(rank, doc) for rank, (doc, _) in enumerate(order)]


@pytest.mark.slow
def test_wor_matches_first_k_distinct_mirror(spark):
    """Engine output equals the hand-computed successive-WOR sample,
    including ranks — whether the first probe round covers k distinct rows
    (mild weights) or the probe prefix has to double over several rounds
    (one row holding ~99% of the mass, so most probes repeat it)."""
    from scraper_db_refine_merge_spark.operators.weighted import (
        weighted_sample_without_replacement,
    )

    mild = [(i, "s", (i * 13) % 37 + 1) for i in range(60)]
    skewed = [(0, "s", 10_000)] + [(i, "s", 1 + i % 3) for i in range(1, 60)]
    for rows in (mild, skewed):
        want = _wor_mirror(rows, 10, "t")
        got = sorted(
            (r["sample_rank"], r["doc_id"])
            for r in weighted_sample_without_replacement(
                _docs(spark, rows), 10, "w", ["doc_id"], seed="t"
            ).collect()
        )
        assert got == want, rows[0]
    # distinctness by construction
    assert len({d for _, d in got}) == 10


def test_wor_degenerate_and_empty_contracts(spark):
    from scraper_db_refine_merge_spark.operators.weighted import (
        weighted_sample_without_replacement,
    )

    # fewer positive-weight rows than k: the whole corpus, ranked by order
    rows = [(1, "a", 5), (2, "a", 0), (3, "a", 7), (4, "a", None)]
    got = sorted(
        tuple(r)
        for r in weighted_sample_without_replacement(
            _docs(spark, rows), 10, "w", ["doc_id"]
        ).collect()
    )
    assert got == [(0, 1, "a", 5), (1, 3, "a", 7)]
    # empty: 0 rows, not k
    empty = _docs(spark, []).filter(F.lit(False))
    assert weighted_sample_without_replacement(empty, 5, "w", ["doc_id"]).count() == 0


@pytest.mark.slow
def test_wor_partitioning_invariance(spark):
    from scraper_db_refine_merge_spark.operators.weighted import (
        weighted_sample_without_replacement,
    )

    rows = [(i, "s", (i * 7) % 23 + 1) for i in range(80)]
    outs = []
    for parts in (2, 13):
        df = _docs(spark, rows).repartition(parts)
        outs.append(
            sorted(
                tuple(r)
                for r in weighted_sample_without_replacement(
                    df, 12, "w", ["doc_id"], seed="p"
                ).collect()
            )
        )
    assert outs[0] == outs[1]
