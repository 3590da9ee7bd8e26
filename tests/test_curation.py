"""Corpus-curation operators: packing semantics, shard parallelism,
repetition filters, chunk dedup reassembly, redaction determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from scraper_db_refine_merge_spark.operators.packing import (
    pack_bins_summary,
    pack_contiguous,
)


def test_pack_contiguous_offsets_and_straddles(spark):
    docs = spark.createDataFrame(
        [(1, 300), (2, 300), (3, 100), (4, 512), (5, 0)], "doc_id long, n_tok long"
    )
    rows = {r["doc_id"]: r for r in pack_contiguous(docs, "doc_id", "n_tok", ctx=512).collect()}
    assert 5 not in rows  # zero-token doc dropped
    assert (rows[1]["offset"], rows[1]["first_bin"], rows[1]["last_bin"]) == (0, 0, 0)
    # doc 2: offset 300, spans tokens 300..599 → bins 0 and 1
    assert (rows[2]["first_bin"], rows[2]["last_bin"], rows[2]["straddles"]) == (0, 1, True)
    assert (rows[3]["offset"], rows[3]["first_bin"]) == (600, 1)
    # doc 4: offset 700, 512 tokens → ends at 1211 → bins 1..2
    assert (rows[4]["first_bin"], rows[4]["last_bin"]) == (1, 2)


def test_pack_contiguous_sharded_equals_per_shard(spark):
    docs = spark.createDataFrame(
        [(i, (i * 37) % 5 + 1, f"s{i % 3}") for i in range(60)],
        "doc_id long, n_tok long, shard string",
    )
    sharded = pack_contiguous(docs, "doc_id", "n_tok", ctx=8, shard_col="shard")
    for s in ("s0", "s1", "s2"):
        alone = pack_contiguous(docs.filter(F.col("shard") == s), "doc_id", "n_tok", ctx=8)
        got = sorted(
            (r["doc_id"], r["offset"], r["first_bin"])
            for r in sharded.filter(F.col("shard") == s).collect()
        )
        want = sorted((r["doc_id"], r["offset"], r["first_bin"]) for r in alone.collect())
        assert got == want


def test_pack_bins_summary_totals(spark):
    docs = spark.createDataFrame([(i, 10) for i in range(1, 11)], "doc_id long, n_tok long")
    out = pack_bins_summary(pack_contiguous(docs, "doc_id", "n_tok", 32), "n_tok")
    rows = {r["bin"]: r for r in out.collect()}
    # 100 tokens, ctx 32 → docs start in bins 0..3; every 4th doc straddles
    assert sum(r["n_docs"] for r in rows.values()) == 10
    assert sum(r["n_tokens"] for r in rows.values()) == 100
    assert sum(r["n_straddling"] for r in rows.values()) == 3


def test_chunk_dedup_removes_common_chunks(spark, tmp_path, sf_dir):
    from scraper_db_refine_merge_spark.plans.curation import q70_chunk_dedup

    out = q70_chunk_dedup(spark, sf_dir).collect()
    assert len(out) > 0
    assert all(r["n_kept"] <= r["n_chunks"] for r in out)
    # the corpus has exact-duplicate docs (freq 3 > cap 2) → something removed
    assert any(r["n_kept"] < r["n_chunks"] for r in out)


def test_repetition_filters_flag_degenerate_doc(spark, sf_dir):
    from scraper_db_refine_merge_spark.plans.curation import q67_repetition_filters

    rows = q67_repetition_filters(spark, sf_dir).collect()
    assert all(0.0 <= r["dup_word_frac"] <= 1.0 for r in rows)
    assert all(0.0 <= r["top_bigram_frac"] <= 1.0 for r in rows)
    # bag-of-words docs over a ~30-word vocab necessarily repeat words
    assert max(r["dup_word_frac"] for r in rows) > 0.0
    assert all(r["keep"] == ((r["dup_word_frac"] <= 0.6) and (r["top_bigram_frac"] <= 0.2)) for r in rows)


def test_redaction_hash_stable_and_counts(spark, sf_dir):
    from scraper_db_refine_merge_spark.plans.curation import q69_pii_redaction

    a = {r["doc_id"]: r for r in q69_pii_redaction(spark, sf_dir).collect()}
    b = {r["doc_id"]: r for r in q69_pii_redaction(spark, sf_dir).collect()}
    assert a == b
    assert all(r["n_emails"] >= 1 and r["n_phones"] >= 1 for r in a.values())
