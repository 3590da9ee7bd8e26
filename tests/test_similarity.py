"""Approximate similarity operators anchored to the brute-force baseline.

The LSH/IVF variants have no SQL oracle (q30) or are probe-limited (q43);
these tests pin their guarantees: results are a *subset* of the exact
pairwise computation with identical similarity values, and recall against
the exact top-k stays above a floor on the test corpus.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scraper_db_refine_merge_spark.operators.similarity import (
    brute_force_near_dup_pairs,
    cosine_near_dup_pairs,
    cosine_topk,
    ivf_topk,
    lsh_topk,
)
from scraper_db_refine_merge_spark.sources.tables import load_table


def _exact_topk(spark, sf_dir, k=5):
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return cosine_topk(e, q, k=k)


def test_lsh_topk_subset_of_exact_scores(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    approx = {(r["query_id"], r["neighbor_id"]): r["cosine_sim"] for r in lsh_topk(e, q, k=5).collect()}
    # recompute every returned pair exactly: sims must match bit-for-bit
    exact_all = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
        for r in cosine_topk(e, q, k=e.count()).collect()
    }
    assert approx, "LSH returned nothing"
    for pair, sim in approx.items():
        assert exact_all[pair] == sim, f"sim mismatch for {pair}"


def test_ivf_topk_values_and_recall(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["neighbor_id"]) for r in _exact_topk(spark, sf_dir).collect()}
    approx_rows = ivf_topk(e, q, k=5, nprobe=2).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in approx_rows}
    # per-query ranks are contiguous from 1
    by_q: dict = {}
    for r in approx_rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # the test labels are not geometric clusters, so absolute recall at
    # nprobe=2/10 cells is modest — assert the floor plus the defining IVF
    # property: recall grows monotonically with nprobe (→ exact at nprobe=n_cells)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"IVF recall collapsed: {recall}"
    wide = {(r["query_id"], r["neighbor_id"]) for r in ivf_topk(e, q, k=5, nprobe=5).collect()}
    assert len(exact & wide) >= len(exact & approx)


def test_cosine_near_dup_subset_of_brute_force(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["a_id"], r["b_id"]): r["cosine_sim"]
        for r in brute_force_near_dup_pairs(e, threshold=0.4).collect()
    }
    # 0.4 is a weak similarity (66° apart) — use short signatures and more
    # tables so single-table miss probability is OR-amplified away
    approx = {
        (r["a_id"], r["b_id"]): r["cosine_sim"]
        for r in cosine_near_dup_pairs(e, threshold=0.4, num_planes=4, num_tables=8).collect()
    }
    assert exact, "baseline found no pairs — threshold too high for corpus"
    for pair, sim in approx.items():
        assert exact[pair] == sim  # subset with identical values
    recall = len(approx) / len(exact)
    assert recall >= 0.3, f"bucketed near-dup recall collapsed: {recall}"


def test_simhash_near_pairs_exact_hamming(spark, sf_dir):
    from scraper_db_refine_merge_spark.operators.dedup import simhash, simhash_near_pairs

    fps = {r["doc"]: r["simhash"] for r in simhash(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    ).collect()}
    got = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in simhash_near_pairs(
            load_table(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=6
        ).collect()
    }
    # every reported pair's hamming matches a direct recompute, and the
    # banding is COMPLETE at the requested radius: 7 chunks over 60 bits ⇒
    # any pair at distance ≤ 6 must share a chunk (pigeonhole), so every
    # such pair is present
    for (a, b), h in got.items():
        assert bin(fps[a] ^ fps[b]).count("1") == h
    ids = sorted(fps)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin(fps[a] ^ fps[b]).count("1")
            if d <= 6:
                assert (a, b) in got or (b, a) in got, (a, b, d)


def test_detect_fixed_dim_and_bucket_path_parity(spark):
    """detect_fixed_dim: uniform → the dim, ragged → None; and the
    literal-plane fast path must produce EXACTLY the buckets of the
    dynamic md5-per-dim expression (same doubles, same signs)."""
    from pyspark.sql import functions as F

    from scraper_db_refine_merge_spark.operators.similarity import (
        detect_fixed_dim,
        hyperplane_bucket,
    )

    uniform = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda d: (F.col("id") * 31 + d * 7 - 100).cast("double") / 37.0,
        ).alias("embedding"),
    )
    assert detect_fixed_dim(uniform, "embedding") == 8

    ragged = spark.range(10).select(
        F.col("id").alias("vec_id"),
        F.sequence(F.lit(0), (F.col("id") % 3 + 1).cast("int")).alias("embedding"),
    )
    assert detect_fixed_dim(ragged, "embedding") is None

    fast = uniform.select(
        "vec_id", hyperplane_bucket(F.col("embedding"), 6, table=1, dim=8).alias("b")
    )
    dyn = uniform.select(
        "vec_id", hyperplane_bucket(F.col("embedding"), 6, table=1, dim=None).alias("b")
    )
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, dyn.collect()))


def test_forget_drops_only_the_named_frames_memos(spark):
    """``_cache.forget(corpus)`` drops the frame's memos: the next
    label_centroids call re-trains (a new frame, equal rows), while a frame
    the call did not name keeps its entries."""
    from scraper_db_refine_merge_spark.operators._cache import forget
    from scraper_db_refine_merge_spark.operators.similarity import label_centroids

    schema = "vec_id long, embedding array<double>, label string"
    rows = [(1, [1.0, 0.0], "a"), (2, [0.8, 0.2], "a"), (3, [0.0, 1.0], "b")]
    corpus = spark.createDataFrame(rows, schema)
    other = spark.createDataFrame(rows[1:], schema)
    cent = label_centroids(corpus)
    other_cent = label_centroids(other)
    assert label_centroids(corpus) is cent  # memo hit

    forget(corpus)
    fresh = label_centroids(corpus)
    assert fresh is not cent
    assert sorted(map(tuple, fresh.collect())) == sorted(map(tuple, cent.collect()))
    assert label_centroids(other) is other_cent

@pytest.mark.slow
def test_lsh_topk_ragged_query_uses_dynamic_buckets(spark):
    """ADVICE r4 (medium): with a uniform-dim corpus and a query of a
    DIFFERENT length, the literal-plane fast path must be abandoned on
    both sides — under the old code the ragged query's zip_with null-padded
    and every bit fell to the '0' branch, silently bucketing it as
    '000…'. The reference result recomputes the join with the dynamic
    (dim=None) bucket expression for both sides, which is the defined
    semantics for mixed dimensions."""
    from pyspark.sql import Window

    from scraper_db_refine_merge_spark.operators.similarity import (
        cosine,
        hyperplane_bucket,
        lsh_topk,
    )

    corpus = spark.createDataFrame(
        [(i, [float((i * 7) % 5) - 2.0, float((i * 3) % 7) - 3.0, 1.0, -0.5])
         for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, -1.0, 0.5])],  # dim 3 vs corpus dim 4
        "vec_id long, embedding array<double>",
    )

    got = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine_sim"], r["rank"])
        for r in lsh_topk(corpus, queries, k=3).collect()
    )

    # reference: dynamic buckets on BOTH sides (the mixed-dim semantics)
    cb = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        hyperplane_bucket(F.col("embedding"), 8, dim=None).alias("bucket"),
    )
    qb = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        hyperplane_bucket(F.col("embedding"), 8, dim=None).alias("bucket"),
    )
    scored = (
        cb.join(qb, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 5).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id").asc())
    want = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine_sim"], r["rank"])
        for r in scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .collect()
    )
    assert got == want


@pytest.mark.slow
def test_semantic_dedup_drops_planted_duplicate(spark):
    from scraper_db_refine_merge_spark.operators.similarity import semantic_dedup

    # v10 is an exact copy of v1 (cosine 1.0 — same cell, any centroids);
    # the rest are axis-aligned and mutually orthogonal (cosine 0).
    base = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 0.0, 1.0]),
        (10, [1.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in semantic_dedup(df, k=2, iters=1, threshold=0.9).collect()}

    assert len(out) == 5  # one row per input vector
    assert out[1]["kept"] == 1  # min-id keeper survives
    assert out[10]["kept"] == 0  # its exact copy is dropped
    assert out[10]["cell"] == out[1]["cell"]  # identical vectors share a cell
    # orthogonal vectors are never semantic dups of anything
    for vid in (2, 3, 4):
        assert out[vid]["kept"] == 1


@pytest.mark.slow
def test_semantic_dedup_deterministic_under_repartition(spark):
    from scraper_db_refine_merge_spark.operators.similarity import semantic_dedup

    rows = [(i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(8)]) for i in range(40)]
    rows += [(100 + i, rows[i][1]) for i in range(5)]  # planted exact copies
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    a = sorted(map(tuple, semantic_dedup(df, k=4, iters=2, threshold=0.95).collect()))
    b = sorted(
        map(tuple, semantic_dedup(df.repartition(13), k=4, iters=2, threshold=0.95).collect())
    )
    assert a == b
    kept = {vid for vid, _, k in a if k == 1}
    for i in range(5):  # every planted copy lost to its min-id original
        assert 100 + i not in kept
        assert i in kept


@pytest.mark.slow
def test_semantic_index_fold_order_invariant(spark, tmp_path):
    from scraper_db_refine_merge_spark.operators.similarity import (
        fold_semantic_index,
        semantic_index_state,
    )

    rows = [(i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(8)]) for i in range(30)]
    rows += [(100 + i, rows[i][1]) for i in range(6)]  # copies of ids 0..5
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    b0 = df.filter("vec_id % 3 = 0")
    b1 = df.filter("vec_id % 3 = 1")
    b2 = df.filter("vec_id % 3 = 2")

    r1, r2 = str(tmp_path / "a"), str(tmp_path / "b")
    for root, order in ((r1, (b1, b2)), (r2, (b2, b1))):
        fold_semantic_index(spark, root, b0, k=4, iters=1, threshold=0.95)
        for b in order:
            fold_semantic_index(spark, root, b, k=4, iters=1, threshold=0.95)

    a = sorted(map(tuple, semantic_index_state(spark, r1).collect()))
    b = sorted(map(tuple, semantic_index_state(spark, r2).collect()))
    assert a == b  # same first batch -> same frozen centroids -> same state


@pytest.mark.slow
def test_semantic_index_late_small_id_demotes_stored_vector(spark, tmp_path):
    from scraper_db_refine_merge_spark.operators.similarity import (
        fold_semantic_index,
        semantic_index_state,
    )

    v = [1.0, 0.0, 0.0, 0.0]
    w = [0.0, 1.0, 0.0, 0.0]
    root = str(tmp_path / "idx")
    batch0 = spark.createDataFrame(
        [(50, v), (60, w)], "vec_id long, embedding array<double>"
    )
    fold_semantic_index(spark, root, batch0, k=2, iters=1, threshold=0.9)
    st = {r["vec_id"]: r["kept"] for r in semantic_index_state(spark, root).collect()}
    assert st == {50: 1, 60: 1}

    # a LATER batch with a SMALLER id that duplicates stored id 50
    batch1 = spark.createDataFrame([(7, v)], "vec_id long, embedding array<double>")
    fold_semantic_index(spark, root, batch1, threshold=0.9)
    st = {r["vec_id"]: r["kept"] for r in semantic_index_state(spark, root).collect()}
    assert st == {7: 1, 50: 0, 60: 1}  # stored 50 demoted, new min-id 7 kept


def test_pair_cosine_null_element_is_null_not_nan(spark):
    """ADVICE r12 (medium): Arrow coerces a null float element to NaN
    inside the kernel's ndarray, and NaN sorts FIRST under the topk
    NaN-greatest DESC order — so without the JVM-side null flag a
    corrupted vector silently became the rank-1 neighbor. Pin the full
    parity table: clean → value, null element → NULL, NULL vector → NULL,
    length mismatch → NULL, genuine NaN element → NULL (the degenerate-
    pair contract: every corrupt cosine is SQL NULL and sorts LAST — the
    HOF's NaN would sort first)."""
    from scraper_db_refine_merge_spark.operators.similarity import (
        _pair_cosine_scores,
    )

    joined = spark.createDataFrame(
        [
            (1, [1.0, 2.0], 10, [1.0, 2.0]),  # clean
            (1, [1.0, 2.0], 11, [1.0, None]),  # null element
            (1, [1.0, 2.0], 12, None),  # NULL vector
            (1, [1.0, 2.0], 13, [float("nan"), 2.0]),  # genuine NaN
            (1, [1.0, 2.0], 14, [1.0, 2.0, 3.0]),  # length mismatch
            (1, [None, 2.0], 15, [1.0, 2.0]),  # null element, query side
        ],
        "query_id long, __qvec array<double>, neighbor_id long, "
        "__nvec array<double>",
    )
    got = {
        r["neighbor_id"]: r["cosine_sim"]
        for r in _pair_cosine_scores(joined, "bigint", "bigint").collect()
    }
    assert got[10] == 1.0
    assert got[11] is None
    assert got[12] is None
    assert got[13] is None
    assert got[14] is None
    assert got[15] is None


@pytest.mark.slow
def test_semantic_dedup_zero_norm_vector_never_qualifies(spark):
    """r13 self-review: the replaced HOF plan RAISED DIVIDE_BY_ZERO on a
    zero-norm vector (session ANSI default); the kernel's numpy 0/0 gave
    NaN, which qualifies under NaN-greatest — so a zero padding vector
    silently dropped every larger-id vector in its cell. Contract now:
    zero-norm pairs take the degenerate-pair NULL semantics and never
    qualify, in both the one-shot and incremental elections."""
    from scraper_db_refine_merge_spark.operators.similarity import (
        fold_semantic_index,
        semantic_dedup,
        semantic_index_state,
    )

    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),  # zero-norm, smallest id
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),  # orthogonal to 1 — not its dup
        (3, [1.0, 0.0, 0.0, 0.0]),  # true dup of 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r["kept"]
        for r in semantic_dedup(df, k=1, iters=1, threshold=0.9).collect()
    }
    # only the true dup of a smaller id drops; the zero vector drops
    # nothing (and is itself kept — no pair qualifies against it)
    assert got == {0: 1, 1: 1, 2: 1, 3: 0}

    import tempfile

    with tempfile.TemporaryDirectory() as root:
        fold_semantic_index(
            spark, root + "/idx", df, k=1, iters=1, threshold=0.9
        )
        st = {
            r["vec_id"]: r["kept"]
            for r in semantic_index_state(spark, root + "/idx").collect()
        }
        assert st == {0: 1, 1: 1, 2: 1, 3: 0}


def test_probe_literal_renderer_falls_back_on_null_components(spark):
    """r13 self-review: a NULL centroid array or NULL component must make
    the literal renderer return None (window-plan fallback), not raise at
    plan build."""
    from scraper_db_refine_merge_spark.operators.similarity import (
        _cells_literal_col,
        _sql_double,
    )

    assert _sql_double(None) is None
    assert _sql_double(float("nan")) is None
    assert _sql_double(1.5) == "1.5D"
    cent = spark.createDataFrame(
        [(0, [1.0, None]), (1, None)], "label int, centroid array<double>"
    )
    assert _cells_literal_col(cent, [(0, [1.0, None])], "label") is None
    assert _cells_literal_col(cent, [(1, None)], "label") is None


@pytest.mark.slow
def test_arrow_kernels_survive_null_and_ragged_vectors(spark):
    """r13: the remaining Arrow kernels (ivf_assign, the brute-force tile,
    the LSH bucket table) take the _vmat_or_nan guard instead of crashing
    the task on NULL/ragged vectors — with expression-plan parity pinned
    against the crossJoin+window / HOF references on the same input."""
    import numpy as np  # noqa: F401
    from pyspark.sql import Window

    from scraper_db_refine_merge_spark.operators.similarity import (
        brute_force_near_dup_pairs,
        cosine,
        cosine_near_dup_pairs,
        ivf_assign,
        label_centroids,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], "a"),
        (2, [0.9, 0.1, 0.0, 0.0], "a"),
        (3, [0.0, 0.0, 1.0, 0.0], "b"),
        (4, None, "b"),                      # NULL vector
        (5, [1.0, 0.0], "a"),                # short
        (6, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0], "b"),  # long
        (7, [0.95, 0.05, 0.0, 0.0], "a"),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    clean = df.filter("vec_id not in (4, 5, 6)")
    cent = label_centroids(clean, "embedding", "label")

    got = {r["vec_id"]: r["cell"] for r in
           ivf_assign(df, cent, "vec_id", "embedding", "label").collect()}
    # reference: the replaced crossJoin + row_number window on identical input
    pw = Window.partitionBy("vec_id").orderBy(F.col("__sim").desc(), F.col("label").asc())
    ref = {
        r["vec_id"]: r["label"]
        for r in df.selectExpr("vec_id", "embedding AS __v")
        .crossJoin(cent.selectExpr("label", "centroid"))
        .withColumn("__sim", F.round(cosine(F.col("__v"), F.col("centroid")), 5))
        .withColumn("__rn", F.row_number().over(pw))
        .filter("__rn = 1")
        .collect()
    }
    assert got == ref and got[4] == "a" and got[5] == "a" and got[6] == "a"

    # brute force: same-length pairs score; NULL / odd lengths never crash
    pairs = brute_force_near_dup_pairs(df, threshold=0.5)
    got_pairs = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    assert (1, 2) in got_pairs and (1, 7) in got_pairs and (2, 7) in got_pairs
    assert not any(4 in p or 5 in p or 6 in p for p in got_pairs)

    # bucketed near-dup: NULL/ragged vectors bucket as all-'0' (never crash)
    nd = cosine_near_dup_pairs(df.select("vec_id", "embedding"), threshold=0.5)
    got_nd = {(r["a_id"], r["b_id"]) for r in nd.collect()}
    assert got_nd <= got_pairs  # bucketed results ⊆ exact pairs
    assert not any(4 in p or 5 in p or 6 in p for p in got_nd)
