"""Corpus-adaptive LSH width (VERDICT r13 item 1).

The static defaults (6 hyperplanes, 2-lane MinHash bands) enter their
collider-dense failure regime as the corpus grows while the capped pair
emitters' connectivity contract assumes bounded collider density per
bucket. adaptive_num_planes / adaptive_band_size grow the signature width
log₂-style with the (memoized) corpus count so expected bucket occupancy
stays ≈ constant; these tests pin the integer ladders, their SQL mirrors,
the >8-lane MinHash signature construction the wider bands need, and
auto-mode end-to-end parity at harness scale.
"""

from __future__ import annotations

import hashlib

import duckdb
import pytest
from pyspark.sql import functions as F

from scraper_db_refine_merge_spark.operators import dedup as dd
from scraper_db_refine_merge_spark.operators import similarity as sim
from scraper_db_refine_merge_spark.sources.tables import load_table


# ----------------------------------------------------------------------
# policy ladders — pure integer functions, exact boundaries


def test_adaptive_num_planes_ladder():
    # occupancy 8: smallest p >= 6 with n <= 8 * 2^p
    assert sim.adaptive_num_planes(0) == 6
    assert sim.adaptive_num_planes(1) == 6
    assert sim.adaptive_num_planes(512) == 6  # 8 * 2^6 boundary, inclusive
    assert sim.adaptive_num_planes(513) == 7
    assert sim.adaptive_num_planes(1024) == 7
    assert sim.adaptive_num_planes(1025) == 8
    assert sim.adaptive_num_planes(2000) == 8  # RECALL_r13's restore point
    assert sim.adaptive_num_planes(2048) == 8
    assert sim.adaptive_num_planes(10**9) == sim.ADAPTIVE_PLANE_STRIDE
    # monotone non-decreasing
    prev = 0
    for n in range(0, 70000, 137):
        p = sim.adaptive_num_planes(n)
        assert p >= prev
        prev = p


def test_adaptive_num_planes_sql_mirror():
    """The q160 oracle's CASE ladder equals the Python policy at every
    boundary (count(*) over range(n) makes n the CASE input)."""
    from scraper_db_refine_merge_spark.plans.vectors import _sql_adaptive_planes

    case = _sql_adaptive_planes()
    con = duckdb.connect()
    ns = [0, 1, 511, 512, 513, 1024, 1025, 2000, 2048, 2049, 65536, 65537]
    for n in ns:
        got = con.execute(f"SELECT {case} FROM range({n})").fetchone()[0]
        assert got == sim.adaptive_num_planes(n), n


def test_adaptive_band_size_ladder():
    # smallest b >= 2 with n <= 2^(16b-4)
    assert dd.adaptive_band_size(0) == 2
    assert dd.adaptive_band_size(5000) == 2
    assert dd.adaptive_band_size(1 << 28) == 2  # boundary, inclusive
    assert dd.adaptive_band_size((1 << 28) + 1) == 3
    assert dd.adaptive_band_size(1 << 44) == 3
    assert dd.adaptive_band_size((1 << 44) + 1) == 4
    assert dd.adaptive_band_size(1 << 62) == 5


# ----------------------------------------------------------------------
# >8-lane MinHash signatures (the material wider adaptive bands draw on)


@pytest.mark.slow
def test_minhash_signature_lanes_beyond_md5(spark):
    """Lane j >= 8 slices md5(shingle || '#<j//8>'): hand-compute every
    lane min in Python over the same shingle set and compare."""
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "pack my box with five dozen liquor jugs right now")],
        "doc_id long, text string",
    )
    sh = dd.word_shingles(docs, "doc_id", "text", 5)
    got = {
        r["doc"]: [r[f"h{j}"] for j in range(12)]
        for r in dd.minhash_signatures(sh, num_hashes=12).collect()
    }
    shingles = {}
    for r in sh.collect():
        shingles.setdefault(r["doc"], set()).add(r["shingle"])
    for doc, ss in shingles.items():
        for j in range(12):
            salt = "" if j < 8 else f"#{j // 8}"
            lane = min(
                hashlib.md5((s + salt).encode()).hexdigest()[
                    4 * (j % 8) : 4 * (j % 8) + 4
                ]
                for s in ss
            )
            assert got[doc][j] == lane, (doc, j)


@pytest.mark.slow
def test_minhash_wide_bands_verify_true_jaccard(spark, sf_dir):
    """band_size=3 (12 lanes, the >2^28 regime forced explicitly):
    the pipeline still emits only verified pairs — every output pair is in
    the exact n-gram Jaccard pair set."""
    d = load_table(spark, sf_dir, "documents")
    wide = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in dd.minhash_dedup_pairs(
            d, "doc_id", "text", k=5, threshold=0.2, band_size=3
        ).collect()
    }
    exact = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in dd.jaccard_pairs(d, "doc_id", "text", k=5, threshold=0.2).collect()
    }
    assert wide <= exact
    assert wide  # the near-dup fixture pairs survive 3-lane banding


# ----------------------------------------------------------------------
# auto-mode end-to-end


@pytest.mark.slow
def test_minhash_auto_band_matches_explicit(spark, sf_dir):
    """Below 2^28 docs auto resolves to band_size=2 — byte-identical to
    the explicit default (this is the q159 oracle-domain argument)."""
    d = load_table(spark, sf_dir, "documents")
    auto = dd.minhash_dedup_pairs(
        d, "doc_id", "text", k=5, threshold=0.2, band_size="auto",
        max_band_successors=3,
    )
    explicit = dd.minhash_dedup_pairs(
        d, "doc_id", "text", k=5, threshold=0.2, band_size=2,
        max_band_successors=3,
    )
    assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, explicit.collect()))


@pytest.mark.slow
def test_cosine_auto_planes_resolution_and_verify(spark, sf_dir):
    """Auto width: resolves via the memoized count (500 → p=6, stride 24),
    emits only verified pairs (⊆ brute force), and is deterministic."""
    e = load_table(spark, sf_dir, "embeddings")
    assert sim.adaptive_num_planes(sim.corpus_count(e)) == 6
    auto = {
        tuple(r)
        for r in sim.cosine_near_dup_pairs(
            e, threshold=0.4, num_planes="auto", max_bucket_successors=3
        ).collect()
    }
    exact = {
        tuple(r) for r in sim.brute_force_near_dup_pairs(e, threshold=0.4).collect()
    }
    assert auto <= exact
    assert auto
    again = {
        tuple(r)
        for r in sim.cosine_near_dup_pairs(
            e, threshold=0.4, num_planes="auto", max_bucket_successors=3
        ).collect()
    }
    assert auto == again


def test_adaptive_stride_prefix_property(spark):
    """The stride-24 indexing contract: a table's p-bit signature is a
    PREFIX of its wider signature for the same table — the property the
    dynamic SQL oracle and cross-scale bucket comparability rely on."""
    rows = [(i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(8)]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    narrow = df.select(
        "vec_id",
        sim.hyperplane_bucket(
            F.col("embedding"), 6, table=2, dim=8, stride=sim.ADAPTIVE_PLANE_STRIDE
        ).alias("b"),
    ).collect()
    wide = {
        r["vec_id"]: r["b"]
        for r in df.select(
            "vec_id",
            sim.hyperplane_bucket(
                F.col("embedding"), 10, table=2, dim=8,
                stride=sim.ADAPTIVE_PLANE_STRIDE,
            ).alias("b"),
        ).collect()
    }
    for r in narrow:
        assert wide[r["vec_id"]].startswith(r["b"])


# ----------------------------------------------------------------------
# incremental-index width: freeze at batch 0, atomic re-widening


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_BASE = "the quick brown fox jumps over the lazy dog near the riverbank today"
_NEAR = "the quick brown fox jumps over the lazy dog near the riverbank tonight"


@pytest.mark.slow
def test_fold_freezes_width_and_reindex_widens(spark, tmp_path):
    from scraper_db_refine_merge_spark.streaming.store import (
        store_marker,
        read_table,
        store_version_dir,
        _manifest_of,
    )

    root = str(tmp_path / "mh")
    dd.fold_minhash_index(
        spark, root, _docs(spark, [(1, _BASE), (2, "pack my box with five dozen liquor jugs right now ok")]),
        "doc_id", "text", threshold=0.2, band_size=2,
    )
    assert store_marker(root, "_minhash_width") == "2"  # frozen at batch 0
    with pytest.raises(ValueError, match="frozen width"):
        dd.fold_minhash_index(
            spark, root, _docs(spark, [(3, _NEAR)]),
            "doc_id", "text", threshold=0.2, band_size=3,
        )
    dd.fold_minhash_index(
        spark, root, _docs(spark, [(3, _NEAR)]),
        "doc_id", "text", threshold=0.2, band_size=2,
    )
    pairs_before = sorted(
        map(tuple, read_table(spark, root, "pairs").collect())
    )
    assert (1, 3) in {(a, b) for (a, b, *_r) in pairs_before}  # cross-fold dup found

    dd.reindex_minhash_width(spark, root, band_size=3)
    assert store_marker(root, "_minhash_width") == "3"
    sigs = read_table(spark, root, "sigs")
    assert [c for c in sigs.columns if c.startswith("h")] == [f"h{j}" for j in range(12)]
    # atomic replace: ONE sigs part, pair log untouched
    m = _manifest_of(store_version_dir(root))
    assert len(m["sigs"]["parts"]) == 1
    assert sorted(map(tuple, read_table(spark, root, "pairs").collect())) == pairs_before

    # future folds at the widened width keep discovering dups
    dd.fold_minhash_index(
        spark, root, _docs(spark, [(4, _BASE + " again")]),
        "doc_id", "text", threshold=0.2, band_size=3,
    )
    got = {(a, b) for (a, b, *_r) in map(tuple, read_table(spark, root, "pairs").collect())}
    assert (1, 4) in got and (3, 4) in got


@pytest.mark.slow
def test_default_fold_adopts_reindexed_width(spark, tmp_path):
    """The width rule: every fold freezes its width in the store, so a
    default-argument fold after reindex_minhash_width adopts the rebuilt
    width instead of banding 8-lane signatures against 12-lane ones."""
    from scraper_db_refine_merge_spark.streaming.store import read_table, store_marker

    root = str(tmp_path / "mh")
    dd.fold_minhash_index(
        spark, root, _docs(spark, [(1, _BASE)]), "doc_id", "text", threshold=0.2
    )
    dd.reindex_minhash_width(spark, root, band_size=3)
    out = dd.fold_minhash_index(
        spark, root, _docs(spark, [(2, _NEAR)]), "doc_id", "text", threshold=0.2
    )
    assert store_marker(root, "_minhash_width") == "3"
    sigs = read_table(spark, root, "sigs")
    assert [c for c in sigs.columns if c.startswith("h")] == [f"h{j}" for j in range(12)]
    assert (1, 2) in {(r["a_id"], r["b_id"]) for r in out.collect()}


@pytest.mark.slow
def test_reindex_dedups_reingested_shingles(spark, tmp_path):
    """ADVICE r14: a doc re-ingested across folds stores its (doc, shingle)
    rows twice; reindex must count DISTINCT shingles or the rebuilt
    n_shingles inflates and Jaccard underestimates for that doc."""
    from scraper_db_refine_merge_spark.streaming.store import read_table

    root = str(tmp_path / "mh")
    for _ in range(2):  # same doc folded twice
        dd.fold_minhash_index(
            spark, root, _docs(spark, [(1, _BASE)]), "doc_id", "text", threshold=0.2
        )
    dd.reindex_minhash_width(spark, root, band_size=3)
    sigs = {r["doc"]: r["n_shingles"] for r in read_table(spark, root, "sigs").collect()}
    one_shot = dd.minhash_signatures(
        dd.word_shingles(_docs(spark, [(1, _BASE)]), "doc_id", "text"), 12
    ).collect()[0]["n_shingles"]
    assert sigs[1] == one_shot


# ----------------------------------------------------------------------
# r15 (VERDICT r14 item 4): the contamination blocklist was the last fold
# family without a width growth path — k was burned into the stored hashes
# with nothing recording it. Freeze / mismatch-raise / rewiden,
# mirroring the MinHash tests above.

_PROT1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
_PROT2 = "one two three four five six seven eight nine ten eleven"


def test_contamination_k_freezes_and_mismatch_raises(spark, tmp_path):
    from scraper_db_refine_merge_spark.streaming.store import store_marker

    root = str(tmp_path / "contam")
    dd.fold_contamination_index(spark, root, _docs(spark, [(1, _PROT1)]), k=5)
    assert store_marker(root, "_contamination_k") == "5"

    with pytest.raises(ValueError, match="frozen width"):
        dd.fold_contamination_index(spark, root, _docs(spark, [(2, _PROT2)]), k=7)
    # k=None adopts the frozen width
    dd.fold_contamination_index(spark, root, _docs(spark, [(2, _PROT2)]), k=None)

    # scan side: the frozen k
    corpus = _docs(spark, [(10, "x " + _PROT1 + " y"), (11, "nothing shared here at all ok")])
    got = {r["doc_id"] for r in dd.contamination_scan(spark, root, corpus).collect()}
    assert got == {10}


@pytest.mark.slow
def test_contamination_reindex_rebuilds_blocklist_at_wider_k(spark, tmp_path):
    from scraper_db_refine_merge_spark.streaming.store import (
        store_marker,
        read_table,
        store_version_dir,
        _manifest_of,
    )

    root = str(tmp_path / "contam")
    dd.fold_contamination_index(spark, root, _docs(spark, [(1, _PROT1)]))
    dd.fold_contamination_index(spark, root, _docs(spark, [(2, _PROT2), (1, _PROT1)]))

    dd.reindex_contamination_k(spark, root, 7)
    assert store_marker(root, "_contamination_k") == "7"
    # atomic replace: ONE blocked part; texts parts untouched (2 folds)
    m = _manifest_of(store_version_dir(root))
    assert len(m["blocked"]["parts"]) == 1
    assert len(m["texts"]["parts"]) == 2

    # rebuilt blocklist == one-shot fold at k=7 over the distinct docs
    # (the re-ingested doc 1 must not double anything)
    one_shot = str(tmp_path / "oneshot")
    dd.fold_contamination_index(
        spark, one_shot, _docs(spark, [(1, _PROT1), (2, _PROT2)]), k=7
    )
    got = {r["h"] for r in read_table(spark, root, "blocked").collect()}
    want = {r["h"] for r in read_table(spark, one_shot, "blocked").collect()}
    assert got == want

    # a 7-word overlap still matches; the scan runs at the new frozen k
    corpus = _docs(spark, [(10, "pre alpha beta gamma delta epsilon zeta eta post")])
    assert {r["doc_id"] for r in dd.contamination_scan(spark, root, corpus).collect()} == {10}


# ----------------------------------------------------------------------
# r15 (VERDICT r14 item 6): num_tables policy — base amplification at the
# occupancy-pinned width, doubling per 8 planes of deviation either side.


def test_adaptive_num_tables_values():
    # n=2000 → uncapped ladder point p*=8
    assert sim.adaptive_num_planes(2000, hi=1 << 30) == 8
    assert sim.adaptive_num_tables(2000, 8) == 4     # at the pin: base
    assert sim.adaptive_num_tables(2000, 19) == 4    # <12 surplus: base
    assert sim.adaptive_num_tables(2000, 20) == 8    # 12 surplus: double
    # width-cap regime: huge corpus, width pinned at 24 → deficit doubles
    n_huge = 8 << 40  # uncapped point p*=40
    assert sim.adaptive_num_tables(n_huge, 24) == 8   # deficit 16
    assert sim.adaptive_num_tables(n_huge, 40) == 4
    # cap
    assert sim.adaptive_num_tables(8 << 80, 24) == 32


def test_cosine_near_dup_auto_tables_resolves_base_at_auto_width(spark):
    """num_tables='auto' with num_planes='auto' must resolve to the BASE at
    harness scale — the oracle-visible bucket structure (q55/q159/q160) is
    unchanged by turning the policy on."""
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    auto = sim.cosine_near_dup_pairs(
        emb, threshold=0.4, num_planes="auto", num_tables="auto",
        max_bucket_successors=3,
    )
    fixed = sim.cosine_near_dup_pairs(
        emb, threshold=0.4, num_planes="auto", num_tables=4,
        max_bucket_successors=3,
    )
    assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, fixed.collect()))


def test_contamination_default_k_adopts_frozen_after_auto_widen(spark, tmp_path):
    """The default fold signature keeps working after the blocklist was
    re-widened: k=None (adopt-frozen) is the default, so a default fold
    after reindex_contamination_k adopts the rebuilt width instead of
    raising a width mismatch."""
    from scraper_db_refine_merge_spark.streaming.store import store_marker

    root = str(tmp_path / "contam")
    dd.fold_contamination_index(spark, root, _docs(spark, [(1, _PROT1)]))
    dd.reindex_contamination_k(spark, root, 6)
    assert store_marker(root, "_contamination_k") == "6"
    # a default-argument fold: adopts 6, no raise
    dd.fold_contamination_index(
        spark, root, _docs(spark, [(3, "yet more protected words arriving later")])
    )
    assert store_marker(root, "_contamination_k") == "6"
    corpus = _docs(spark, [(10, "x yet more protected words arriving later y")])
    assert {r["doc_id"] for r in dd.contamination_scan(spark, root, corpus).collect()} == {10}


def test_capped_shingles_equal_freq_join_reference(spark):
    """r16: the hot-set ANTI-join form of max_shingle_freq must keep
    exactly the shingles whose corpus frequency is <= cap (row-identical
    to the replaced inner-join-with-freq-table form)."""
    from pyspark.sql import functions as F

    from scraper_db_refine_merge_spark.operators import dedup as dd

    docs = _docs(
        spark,
        [(i, "common words shared by every doc " + f"unique tail {i} {i+1} {i+2} {i+3} {i+4}")
         for i in range(20)],
    )
    cap = 5
    got = dd.word_shingles(docs, "doc_id", "text", 5, cap)
    full = dd.word_shingles(docs, "doc_id", "text", 5)
    freq = full.groupBy("shingle").agg(F.count("*").alias("__f"))
    want = full.join(freq.filter(F.col("__f") <= cap), "shingle").select("doc", "shingle")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # the hot shingle really was dropped
    hot = freq.filter(F.col("__f") > cap).count()
    assert hot > 0
