"""Corpus n-gram language-model quality scoring (r6).

Pretraining pipelines (CCNet, Gopher/MassiveText, RefinedWeb) filter
documents by language-model fluency — a KenLM perplexity in the
published versions. This module is the Spark-native, ORACLE-EXACT form of
that modality: a bigram LM with add-one smoothing trained on the corpus
itself, scoring each document by its mean smoothed bigram probability.

Why mean probability instead of perplexity: perplexity needs ln(), and
ln() is not cross-engine bit-stable (the documented divergence that shaped
q87's N/df rarity weight — ROADMAP gotchas). The mean conditional
probability is a monotone-enough fluency signal for FILTERING (gibberish
and boilerplate sit at the extremes either way), while staying exact: each
bigram occurrence scores

    unit = floor( (c(w1,w2) + 1) * SCALE / (c(w1·) + V) )

— pure BIGINT arithmetic (``div``), order-independent, identical in Spark
and DuckDB — and a document's score is ``floor(sum(unit) / n_bigrams)``.
Since c(w1,w2) ≤ c(w1·), unit ≤ SCALE always fits a long; the
intermediate product stays under 2^63 while no single bigram type exceeds
~9.2e9 occurrences. Beyond that corpus size, lift the product into
DECIMAL(38,0)/HUGEINT on both engines — and note Spark's decimal division
rounds half-up at its result scale BEFORE floor(), so the decimal variant
must divide with enough extra scale digits to make that rounding
innocuous.

Scale shape: one token-pair explode (narrow map), two corpus count tables
built with map-side partial aggregation, equi-joins back on the bigram /
prefix keys. No hints: the count tables are vocabulary-sized and grow with
the corpus — AQE decides. Hot bigrams ("of the") concentrate COUNT rows
one per key, so the join's build side has no skew; the probe side's skew
is benign (no per-key state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._cache import persist_tracked
from .dedup import normalized_text

LM_SCALE = 1_000_000_000  # 1e9: unit = smoothed probability in nano-probs


def doc_bigrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, w1, w2): every adjacent token pair, duplicates preserved
    (counts are LM statistics, not a set). Zero-shuffle narrow map."""
    tokenized = df.select(
        F.col(id_col).alias("doc"),
        F.split(normalized_text(F.col(text_col)), " ").alias("__toks"),
    )
    toks = F.col("__toks")
    idx = F.when(F.size(toks) >= 2, F.sequence(F.lit(0), F.size(toks) - 2)).otherwise(
        F.array().cast("array<int>")
    )
    pairs = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(toks, i + 1).alias("w1"), F.element_at(toks, i + 2).alias("w2")
        ),
    )
    return tokenized.select("doc", F.explode(pairs).alias("p")).select(
        "doc", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )


def bigram_lm_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, n_bigrams, lm_score): mean add-one-smoothed bigram
    probability per document, in integer ``LM_SCALE``-ths
    (nano-probabilities) — the corpus-trained fluency score.

    V = distinct tokens in the corpus (the smoothing vocabulary).
    """
    bi = doc_bigrams(df, id_col, text_col)
    c12 = bi.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = bi.groupBy("w1").agg(F.count("*").alias("c1"))
    toks = df.select(
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("w")
    )
    v = toks.agg(F.count_distinct("w").alias("v"))
    return _score_with_counts(bi, c12, c1, v)


def _score_with_counts(bi: DataFrame, c12: DataFrame, c1: DataFrame, v: DataFrame) -> DataFrame:
    """Score (doc, w1, w2) bigram occurrences against count tables — shared
    by the whole-corpus scorer and the incremental-index scorer (their
    results must be identical when the counts are, which is exactly the
    q129 gate).

    LEFT joins with coalesce(…, 0) (ADVICE r6): a bigram absent from the
    count tables is a genuinely UNSEEN event and add-one smoothing assigns
    it ``LM_SCALE / (c1 + V)`` (or ``LM_SCALE / V`` when the prefix itself is
    unseen) — an inner join would silently drop it and undercount
    ``n_bigrams``. For the gated score-the-folded-corpus case every doc
    bigram exists in the counts, so both forms agree; the left join makes
    scoring NEW documents against a frozen index correct too.

    Overflow headroom (ROADMAP r6 1a(e) probe, verified r7): the numerator
    is widened to DECIMAL(38,0) BEFORE the multiply — as a BIGINT product,
    ``(c12+1)·LM_SCALE`` wraps silently once a bigram count passes
    ~9.2e18/LM_SCALE (≈9e9 at the nano-scale; a 100 TB corpus exceeds that for stop
    bigrams). Spark's ``div`` on a decimal dividend truncates toward zero
    exactly like BIGINT ``div`` / DuckDB HUGEINT ``//`` (differential-tested
    in tests/test_lm.py), and the QUOTIENT always fits BIGINT because
    c12 ≤ c1 bounds it by ``LM_SCALE``. The decimal widening touches only the
    per-bigram multiply; sums stay BIGINT (unit ≤ scale, docs are bounded).
    """
    unit = F.expr(
        f"(CAST(coalesce(c12, 0) + 1 AS DECIMAL(38,0)) * {LM_SCALE}) div (coalesce(c1, 0) + v)"
    )
    scored = (
        bi.join(c12, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(v)  # 1-row corpus constant
        .select("doc", unit.alias("unit"))
    )
    return scored.groupBy(F.col("doc").alias("doc_id")).agg(
        F.count("*").alias("n_bigrams"),
        F.expr("sum(unit) div count(*)").cast("long").alias("lm_score"),
    )


def fold_bigram_index(
    spark,
    target_root: str,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    keep_versions: int = 1,
) -> None:
    """Fold ONE batch of documents into a persistent bigram-LM index.

    LM sufficient statistics are MERGEABLE: bigram counts add, vocabularies
    union — so the index stores, per batch, an immutable ``bigrams``
    (w1, w2, cnt) part and a ``tokens`` (distinct w) part via the
    manifest store (store_commit_parts, ADVICE r5 shape): per-batch commit
    I/O is O(batch statistics), the accumulated index is the union of
    parts, and both tables move under one commit-log entry. This is the
    ingestion form of q126: when data lands, corpus LM scores stay
    current WITHOUT re-tokenizing the existing corpus.

    ``keep_versions > 1`` retains that many committed manifests — each an
    immutable view of the index as of its fold — enabling snapshot diffs
    (``lm_index_drift``) and as-of scoring via ``read_table(..., version=seq)``.
    Retention GC keeps every part any retained manifest references, so an
    old snapshot's statistics can never be deleted out from under it.
    """
    from ..streaming.store import store_commit_parts

    bi = (
        doc_bigrams(new_docs, id_col, text_col)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
    )
    tk = new_docs.select(
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("w")
    ).distinct()
    store_commit_parts({"bigrams": bi, "tokens": tk}, target_root, keep=keep_versions)


def lm_index_drift(spark, target_root: str, seq_a: int, seq_b: int) -> DataFrame:
    """Corpus-drift report between two retained LM-index snapshots:
    4 rows ``(metric, value)`` —

    - ``bigram_types_new``: bigram types in B absent from A;
    - ``bigram_types_grown``: types in both whose count rose;
    - ``occurrences_added``: total bigram occurrences added A → B;
    - ``vocab_new``: vocabulary tokens first seen in B.

    The inputs are the MANIFESTS' own parts lists (snapshot B's manifest
    extends A's — counts only ever add under ``fold_bigram_index``), so the
    diff is exact without replaying any document: the retention/time-travel
    story of q110 applied to mergeable LM statistics. The report is what a
    corpus-monitoring pipeline alerts on (vocabulary churn, topic drift)
    between ingestion runs.
    """
    from ..streaming.store import read_table

    def read_part(part, seq):
        df = read_table(spark, target_root, part, version=seq)
        if df is None:
            # Mirror contamination_scan's missing-index error (ADVICE r7):
            # a GC'd snapshot / never-committed seq otherwise surfaces as
            # an opaque AttributeError on NoneType.
            raise ValueError(
                f"no retained snapshot {seq} for part {part!r} at {target_root}"
            )
        return df

    def counts(seq):
        bi = read_part("bigrams", seq)
        return bi.groupBy("w1", "w2").agg(F.sum("cnt").alias("c"))

    ca = counts(seq_a).withColumnRenamed("c", "ca")
    cb = counts(seq_b).withColumnRenamed("c", "cb")
    j = cb.join(ca, ["w1", "w2"], "left")
    bigram_stats = j.agg(
        F.sum(F.when(F.col("ca").isNull(), 1).otherwise(0)).cast("long").alias("new"),
        F.sum(F.when(F.col("ca").isNotNull() & (F.col("cb") > F.col("ca")), 1).otherwise(0))
        .cast("long")
        .alias("grown"),
        F.sum(F.col("cb") - F.coalesce("ca", F.lit(0))).cast("long").alias("added"),
    )
    va = read_part("tokens", seq_a).distinct()
    vb = read_part("tokens", seq_b).distinct()
    vocab_new = vb.join(va, "w", "anti").agg(F.count("*").cast("long").alias("v"))
    return (
        bigram_stats.select(F.lit("bigram_types_new").alias("metric"), F.col("new").alias("value"))
        .unionByName(
            bigram_stats.select(F.lit("bigram_types_grown").alias("metric"), F.col("grown").alias("value"))
        )
        .unionByName(
            bigram_stats.select(F.lit("occurrences_added").alias("metric"), F.col("added").alias("value"))
        )
        .unionByName(vocab_new.select(F.lit("vocab_new").alias("metric"), F.col("v").alias("value")))
    )


def lm_scores_from_index(
    spark, target_root: str, docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Score ``docs`` with the FOLDED index's statistics. After folding
    batches b0..bn, scores equal ``bigram_lm_scores`` over the
    concatenated corpus — the mergeability invariant q129 gates."""
    from ..streaming.store import read_table

    bi_parts = read_table(spark, target_root, "bigrams")
    tok_parts = read_table(spark, target_root, "tokens")
    if bi_parts is None or tok_parts is None:
        # mirror contamination_scan's missing-index error (the ADVICE r7
        # class): never let a missing store surface as NoneType.groupBy
        raise ValueError(f"no committed LM index at {target_root}")
    c12 = bi_parts.groupBy("w1", "w2").agg(F.sum("cnt").alias("c12"))
    c1 = bi_parts.groupBy("w1").agg(F.sum("cnt").alias("c1"))
    v = tok_parts.agg(F.count_distinct("w").alias("v"))
    bi = doc_bigrams(docs, id_col, text_col)
    return _score_with_counts(bi, c12, c1, v)


DSIR_BUCKETS = 1024


def dsir_weights(df: DataFrame, id_col: str, text_col: str, target_filter) -> DataFrame:
    """DSIR-style importance weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023): score every
    document by how much its hashed-unigram distribution looks like a
    TARGET domain relative to the raw corpus.

    Features are md5-hashed unigram buckets (the paper's hashed n-grams).
    Per bucket b: p_t(b) = (ct_b+1)/(T+B), p_r(b) = (cr_b+1)/(R+B)
    (add-one smoothing, B = bucket count); a token in bucket b contributes
    ``unit = floor(((ct_b+1)·(R+B)) / ((cr_b+1)·(T+B)) · 10^6 + 0.5)``
    and a document's weight is ``sum(unit) div n_tokens`` — the mean
    importance ratio in integer micro-units (B = ``DSIR_BUCKETS``). (The paper multiplies
    per-feature log-ratios; the mean ratio is the transcendental-free
    monotone surrogate, same reasoning as q126 — ln() is not cross-engine
    bit-stable.) The ratio arithmetic is a FIXED IEEE expression tree over
    exactly-representable integers (< 2^53), so units are bit-identical
    across engines; the per-doc sum is a BIGINT — order-independent.

    ``target_filter``: boolean Column selecting the target-domain rows of
    ``df`` (e.g. ``F.col("source") == "src0"``). Scale shape: one token
    explode; bucket count tables are CONFIG-bounded (B rows) — genuinely
    broadcastable, region/nation class; per-doc aggregation shuffles once
    on doc id with map-side combine.
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        target_filter.alias("__target"),
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("w"),
    ).withColumn(
        "b",
        F.pmod(F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long"), F.lit(DSIR_BUCKETS)),
    )
    # ONE explode+md5 corpus pass (r11: the previous ct/cr/totals trio plus
    # the final join re-exploded and re-hashed every token FOUR times).
    # Tokens compress to per-(doc, bucket) counts with full map-side
    # combine, the compressed table persists (fixed-width longs, tracked —
    # the _cache lifecycle), and every downstream statistic derives from
    # it: bucket counts are SUM(c), the corpus scalars R/T are the column
    # sums of the B-row bucket table (a config-bounded aggregation, not a
    # corpus pass), and the final score is sum(c·unit) div sum(c) —
    # identical values, the per-token sum merely grouped by bucket first.
    per_doc = persist_tracked(
        toks.groupBy("doc", "__target", "b").agg(F.count("*").alias("c"))
    )
    cnt = per_doc.groupBy("b").agg(
        F.sum("c").alias("cr"),
        F.sum(F.when(F.col("__target"), F.col("c")).otherwise(0)).alias("ct"),
    )
    totals = cnt.agg(F.sum("cr").alias("R"), F.sum("ct").alias("T"))
    # bucket tables are B rows (config) — constant-size, broadcast is safe
    lut = (
        cnt.crossJoin(F.broadcast(totals))
        .select(
            "b",
            F.floor(
                ((F.col("ct") + 1).cast("double") * (F.col("R") + DSIR_BUCKETS).cast("double"))
                / ((F.col("cr") + 1).cast("double") * (F.col("T") + DSIR_BUCKETS).cast("double"))
                * F.lit(1_000_000.0)
                + F.lit(0.5)
            ).cast("long").alias("unit"),
        )
    )
    return (
        per_doc.join(F.broadcast(lut), "b")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.sum("c").alias("n_tokens"),
            F.expr("sum(c * unit) div sum(c)").cast("long").alias("dsir_weight"),
        )
    )
