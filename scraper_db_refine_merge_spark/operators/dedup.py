"""Deduplication operators: exact, business-key latest-wins, n-gram Jaccard,
MinHash+LSH, and SimHash (SURVEY J3/J4/J5/W3 generalized to corpus-scale
near-dup detection for training-data pipelines).

All of these are pure DataFrame compositions — no Python UDFs — so they stay
inside whole-stage codegen and scale by shuffle on narrow keys:

- exact dedup shuffles once on a 128-bit content hash;
- Jaccard/MinHash shuffle on *shingle* / *band-signature* keys, never
  all-pairs: candidate generation is an equi-join, which is the only way
  pairwise similarity survives 10^9 documents;
- hot shingles (stop-shingles) are optionally dropped via a frequency cap —
  the standard skew guard, since a shingle shared by 1M docs creates a
  10^12-pair join explosion.

Hash functions are md5-based so results are deterministic and reproducible
across engines (the DuckDB oracle mirrors them byte-for-byte).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._cache import memo, persist_tracked

# ----------------------------------------------------------------------
# Exact dedup


def normalized_text(c: Column) -> Column:
    """Whitespace-collapse + trim + lower — the reference's cleaning step
    (scrapers_v2/data_quality/cleaning.py:5-19) applied before hashing."""
    return F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Hash-groupBy exact duplicate groups.

    Returns one row per distinct content hash: ``(content_hash, dup_count,
    canonical_id)`` where canonical is the smallest id (reference picks a
    canonical doc per dup group, schema_adapter_enhanced.py:540-544).
    """
    return (
        df.select(F.col(id_col).alias("__id"), F.md5(normalized_text(F.col(text_col))).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("dup_count"), F.min("__id").alias("canonical_id"))
    )


def spread_degenerate_scan(df: DataFrame, key_col: str) -> DataFrame:
    """Guide §2.5 input-skew remedy, scale-gated: hash-repartition ``df`` on
    ``key_col`` to ``defaultParallelism`` ONLY when its physical scan is
    degenerate (fewer partitions than a quarter of the cluster's cores).

    Motivation: the heavy text operators downstream (shingle explode ≈ 300
    output rows/doc, md5 per shingle) multiply per-input-row work by orders
    of magnitude, so a single-row-group parquet file — 1 scan task — floors
    the whole pipeline at single-core speed while 31 cores idle. Measured at
    sf0.1: shingle noop 0.51 → 0.26 s, q105 warm 2.7 → 1.5 s.

    Scale-adaptive by construction: at 100 TB inputs arrive as many
    splittable files, the partition count exceeds the gate, and this is a
    no-op — so the corpus text payload is never shuffled at scale (the
    repartition only ever fires on degenerate inputs, where the payload is
    by definition one task's worth of bytes). Hash partitioning on the
    unique id is deterministic under retries (guide §2.5: no round-robin,
    no rand()). Row set unchanged — partitioning only.

    The partition-count probe (``df.rdd.getNumPartitions()``) costs one
    driver-side plan conversion; memoized per DataFrame object so repeated
    operator calls over the same frame (q25 builds shingles twice) pay it
    once. Streaming frames have no RDD — returned unchanged.
    """
    if df.isStreaming:
        return df
    n = df.sparkSession.sparkContext.defaultParallelism

    def _nparts() -> int:
        try:
            return df.rdd.getNumPartitions()
        except Exception:
            return n  # unknown → leave the frame alone

    nparts = memo(df, ("spread_nparts",), _nparts)
    if nparts < max(2, n // 4):
        return df.repartition(n, F.col(key_col))
    return df


def latest_per_key(df: DataFrame, key_cols: list[str], order_cols: list[Column]) -> DataFrame:
    """W3 latest-wins for any order (SURVEY W3/J4, reference
    database/data_migration.py:133-139): the first row per business key
    under ``order_cols``, by one ``row_number`` window. The order must be
    total (end in a unique tie-break) for a deterministic winner. The
    window sorts each key's rows in one task, so a hot key is one long
    task; for an all-DESC order :func:`latest_wins_agg` avoids that.
    """
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def latest_wins_agg(
    df: DataFrame, key_cols: list[str], desc_cols: list[str]
) -> DataFrame:
    """W3 latest-wins as ONE aggregation when the order is
    ``(c1 DESC NULLS LAST, c2 DESC NULLS LAST, ...)`` — the common
    newest-version shape (r16, guide §2.3 "aggregate before you shuffle").

    ``max_by(struct(payload), struct(desc_cols))`` is row-identical to the
    ``row_number`` window over the same DESC order whenever ``desc_cols`` is
    a total order, including degenerate orderings: struct comparison ranks a
    NULL field below any value, exactly like ``DESC NULLS LAST``, and an
    all-NULL leading key falls through to the next field like the window's
    tie-break (pinned in test_skew).

    Why it beats the window forms at every scale:

    - the partial (map-side) aggregate keeps ONE candidate row per key per
      task, so the single exchange carries ≤ |keys|·|tasks| rows — the
      window plan ships per-partition winners too (Spark's WindowGroupLimit
      partial pass) but pays TWO full local sorts (pre- and post-exchange)
      plus the Window machinery where this plan does one O(n) hash pass;
    - skew needs no probe and no salt: a hot key collapses to one row per
      map task before the shuffle, a finer split than any explicit salt.

    Column order and names are preserved. For other orders use
    :func:`latest_per_key` (windows express arbitrary SortOrders; inverting
    an ASC tie-break inside ``max_by`` would need type-specific negation).
    """
    payload = [c for c in df.columns if c not in key_cols]
    ordk = F.struct(*[F.col(c) for c in desc_cols])
    out = df.groupBy(*key_cols).agg(
        F.max_by(F.struct(*[F.col(c) for c in payload]), ordk).alias("__lw")
    )
    return out.select(
        *[
            F.col(c) if c in key_cols else F.col("__lw").getField(c).alias(c)
            for c in df.columns
        ]
    )


# ----------------------------------------------------------------------
# Shingling


def word_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    max_shingle_freq: int | None = None,
    spread: bool = True,
) -> DataFrame:
    """Distinct word k-shingles per document: ``(doc, shingle)``.

    Built with sequence+transform+explode (all codegen'd). ``max_shingle_freq``
    drops shingles appearing in more than that many docs — the skew guard for
    corpus-scale joins.

    The two projections are single ``selectExpr`` strings, not stacked
    ``F.*`` builders: every ``F.*`` call is a py4j round-trip, and this
    constructor sits inside q25's verify path where it is built TWICE per
    query — measured ~80 ms of pure driver-side expression construction per
    build at r10 vs ~2 ms for the one-string JVM parse of the identical
    Catalyst expressions. Constant cost, but the per-query bench pays it on
    every invocation.
    """
    # Degenerate-scan spread (r17, guide §2.5): a single-row-group input
    # would serialize the explode's ~300× row multiplication on one core.
    # ``spread=False`` skips even the partition-count probe — for callers
    # whose input is derived (post-shuffle) and tiny by construction, e.g.
    # the candidate-restricted verify rebuild in minhash_dedup_pairs: the
    # gate would no-op there anyway, but probing a join plan costs a
    # driver-side RDD conversion per evaluation (r17 q25 dispersion).
    if spread:
        df = spread_degenerate_scan(df, id_col)
    # Materialize the token array in its own projection FIRST: inlining the
    # split() into the explode generator makes Spark re-evaluate it per output
    # row (~5x slower, measured at sf0.1).
    tokenized = df.selectExpr(
        f"`{id_col}` AS doc",
        f"split(lower(regexp_replace(trim(`{text_col}`), '\\\\s+', ' ')), ' ') AS __toks",
    )
    # sequence(0, n) descends when n < 0, so short docs need an explicit
    # empty; duplicate shingles can only occur WITHIN a document, so per-row
    # array_distinct before the explode yields globally-distinct (doc,
    # shingle) rows with zero shuffle — the whole operator stays a narrow
    # map, and consumers can recompute it cheaper than caching it.
    out = tokenized.selectExpr(
        "doc",
        f"""explode(array_distinct(transform(
            CASE WHEN size(__toks) >= {k} THEN sequence(0, size(__toks) - {k})
                 ELSE CAST(array() AS array<int>) END,
            i -> array_join(slice(__toks, i + 1, {k}), ' ')))) AS shingle""",
    )
    if max_shingle_freq is not None:
        # r16 (guide §2.4/§3.1): the cap keeps shingles with freq ≤ cap —
        # equivalently, drops members of the HOT set (freq > cap), which is
        # tiny by construction (stop-shingles). The previous form
        # inner-joined the FULL freq table, paying a shingle-keyed exchange
        # of the whole shingle set per consumer evaluation; the anti-join
        # against just the hot set lets AQE broadcast it (no forced hint —
        # the hot-set size is data-dependent), so the capped frame stays a
        # NARROW map over the shingle generator and the only shuffle left
        # is the freq aggregation itself. Row-identical: every out shingle
        # has a freq row, and freq ≤ cap ⟺ not in the hot set. Shingles are
        # never NULL by construction (array_join over non-null token
        # arrays; NULL text yields zero explode rows), so the anti-join's
        # null-keep semantics can't diverge from the old null-dropping
        # inner join (ADVICE r16).
        hot = (
            out.groupBy("shingle")
            .agg(F.count("*").alias("__f"))
            .filter(F.col("__f") > max_shingle_freq)
            .select("shingle")
        )
        # r17 (VERDICT r16 item 1, guide §5): every consumer of the capped
        # frame used to re-plan this freq subtree — q105's pair join plans
        # it 4× (both join sides + both size lookups), re-running the
        # corpus-wide frequency aggregation each time. Persisting the HOT
        # set (tiny: stop-shingles only) runs the freq aggregation ONCE
        # and each consumer rebuilds only a broadcast of the cached rows.
        # Persisting the capped (doc, shingle) frame itself was measured
        # SLOWER (r16 and again r17: corpus-sized cache materialization >
        # the narrow scan→explode recompute it saves). Batch-only: a
        # streaming frame cannot persist (and the groupBy build side is
        # already batch-only in every capped caller).
        if not out.isStreaming:
            hot = persist_tracked(hot)
        out = out.join(hot, "shingle", "anti").select("doc", "shingle")
    return out


def _pair_jaccard(shingle_df: DataFrame, threshold: float) -> DataFrame:
    """All-pairs Jaccard over a (doc, shingle) set via shingle equi-join."""
    sizes = shingle_df.groupBy("doc").agg(F.count("*").alias("n_shingles"))
    a = shingle_df.alias("a")
    b = shingle_df.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("a_id"), F.col("b.doc").alias("b_id"))
        .agg(F.count("*").alias("intersection"))
    )
    sa = sizes.select(F.col("doc").alias("a_id"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc").alias("b_id"), F.col("n_shingles").alias("nb"))
    # NO forced broadcast of `sizes`: it is one row per corpus document, so a
    # broadcast hint here is an OOM at 10^9 docs (VERDICT r4 item 1). The
    # joins key on doc id — AQE broadcasts at small SF and falls back to a
    # hash-partitioned join when the corpus outgrows the threshold.
    return (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("intersection").cast("double")
                / (F.col("na") + F.col("nb") - F.col("intersection")).cast("double"),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "intersection", "jaccard")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs (doc pairs with similarity ≥ threshold)."""
    return _pair_jaccard(word_shingles(df, id_col, text_col, k, max_shingle_freq), threshold)


# ----------------------------------------------------------------------
# MinHash + LSH

MINHASH_NUM_HASHES = 8
MINHASH_BAND_SIZE = 2

#: adaptive_band_size target: expected ACCIDENTAL colliders per doc per
#: band = n / 2^(16·band_size) ≤ 2^-ADAPTIVE_BAND_MARGIN_BITS.
ADAPTIVE_BAND_MARGIN_BITS = 4


def adaptive_band_size(n: int, lo: int = MINHASH_BAND_SIZE, hi: int = 8) -> int:
    """Corpus-adaptive band width (VERDICT r13 item 1, the MinHash analog
    of :func:`similarity.adaptive_num_planes`): the smallest ``band_size ≥
    lo`` whose 16·band_size-bit band-signature space keeps expected
    accidental colliders per doc per band ≤ 2^-4 — i.e. ``n ≤
    2^(16·band_size − 4)``. The default stays 2 (32-bit signatures) up to
    n = 2^28 ≈ 268M docs — every harness scale — and grows to 3 lanes at
    true corpus scale, where 32-bit birthday collisions would flood the
    capped emitters' buckets with verification-failing colliders. Pure
    integer arithmetic so an oracle can mirror the ladder exactly."""
    b = lo
    while b < hi and n > (1 << (16 * b - ADAPTIVE_BAND_MARGIN_BITS)):
        b += 1
    return b


def minhash_signatures(shingle_df: DataFrame, num_hashes: int = MINHASH_NUM_HASHES) -> DataFrame:
    """Per-doc MinHash signature: h_j = min over shingles of lane j, where
    lane j is the j-th disjoint 4-hex-char (16-bit) slice of md5(shingle).

    ONE md5 per shingle row feeds all lanes (slicing a strong hash gives
    effectively independent lane hashes — measured ~4× cheaper than hashing
    per lane, and the 16-bit lanes also shrink the band-signature shuffle).
    Lexicographic min of fixed-width hex equals numeric min, and the same
    slices are reproducible in any engine with md5/substring (the oracle
    mirrors them). 16-bit lanes admit rare band false-positives on large
    corpora; the exact-Jaccard verify step removes them. ``n_shingles``
    (the per-doc set size) rides along in the same aggregation so Jaccard
    verification needs no second pass over the shingle set.

    ``num_hashes > 8`` (the adaptive-band path): one md5 yields 8 lanes,
    so lane j ≥ 8 slices block ``b = j//8``: ``md5(shingle || '#b')`` —
    salted re-hashes, equally engine-reproducible (min over a salted md5
    slice is still a valid MinHash lane)."""
    # md5 is MATERIALIZED in its own projection before the aggregate: the
    # lane expressions inside agg() each embed their argument, and
    # common-subexpression elimination is not guaranteed across aggregate
    # buffers — inline, the 8 lanes can evaluate 8 md5s per row (measured
    # ~15% slower at sf0.1; 8× the hash cost in the worst case at scale).
    # F.expr strings (one JVM parse each) over stacked F.* builders: same
    # Catalyst expressions, ~7× less py4j construction time (r10 q25
    # profiling — see word_shingles).
    n_blocks = (num_hashes + 7) // 8
    hcols = ["md5(shingle) AS __h0"] + [
        f"md5(concat(shingle, '#{b}')) AS __h{b}" for b in range(1, n_blocks)
    ]
    hashed = shingle_df.selectExpr("doc", *hcols)
    aggs = [
        F.expr(f"min(substring(__h{j // 8}, {4 * (j % 8) + 1}, 4)) AS h{j}")
        for j in range(num_hashes)
    ]
    return hashed.groupBy("doc").agg(*aggs, F.expr("count(*) AS n_shingles"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = MINHASH_NUM_HASHES,
    band_size: int = MINHASH_BAND_SIZE,
) -> DataFrame:
    """Banding: docs sharing any full band of the signature become candidates.

    Implemented as explode-to-(band, band_sig) + self equi-join on the band
    signature — linear shuffle, no all-pairs comparison. The band structs
    are one ``inline(array(...))`` selectExpr (single JVM parse; see the
    construction-cost note on word_shingles) and inline() emits the struct
    fields as columns directly — one projection instead of two.
    """
    exploded = _band_rows(signatures, num_hashes, band_size)
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("a_id"), F.col("b.doc").alias("b_id"))
        .distinct()
    )


def _band_rows(
    signatures: DataFrame, num_hashes: int, band_size: int
) -> DataFrame:
    """(doc, band, band_sig): one row per (doc, band) — the banding
    explode shared by the full and capped candidate generators."""
    n_bands = num_hashes // band_size
    structs = ", ".join(
        "struct({b} AS band, concat_ws('|', {lanes}) AS band_sig)".format(
            b=b,
            lanes=", ".join(f"h{b * band_size + i}" for i in range(band_size)),
        )
        for b in range(n_bands)
    )
    return signatures.selectExpr("doc", f"inline(array({structs}))")


def lsh_candidate_pairs_capped(
    signatures: DataFrame,
    num_hashes: int = MINHASH_NUM_HASHES,
    band_size: int = MINHASH_BAND_SIZE,
    max_successors: int = 3,
) -> DataFrame:
    """Output-capped banding (VERDICT r12 item 4): within each (band,
    band_sig) bucket each doc pairs only with its ``max_successors``
    id-ordered SUCCESSORS, so a dup-clique of size c emits ≤ c·m·n_bands
    candidate pairs instead of c²/2 — the uncapped emitter's output (and
    its candidate shuffle) grows quadratically in clique size, which the
    10× scale smoke measures as ~50× pair growth on replicated corpora.

    Connectivity contract (r13 review — stated precisely): consecutive
    clique members in a bucket's id order share a chain pair, so a
    dup-clique stays ONE connected component as long as, in at least one
    band, no two consecutive members have ≥ m non-duplicate colliders
    (docs sharing the band signature by hash accident that then fail
    verification) interleaved between them. Exact-duplicate cliques
    co-occur in ALL n_bands buckets, so every band is an independent
    chance; 32-bit band signatures keep collider density low. Heavily
    collided buckets can still split a clique the uncapped emitter would
    have joined — the cap is a recall/output TRADE, not a free lunch;
    what is certainly given up is the explicit transitive closure nobody
    scans at 100 TB. Deterministic: bucket membership is md5-banded, the
    order is doc id, the cap keeps the FIRST m successors. Per-bucket
    work is the one ``lead`` window pass — linear in bucket size (a hot
    bucket is one task but c·m work, not c²)."""
    w = Window.partitionBy("band", "band_sig").orderBy("doc")
    succ = _band_rows(signatures, num_hashes, band_size).select(
        F.col("doc").alias("a_id"),
        F.array(
            *[F.lead("doc", j).over(w) for j in range(1, max_successors + 1)]
        ).alias("__succ"),
    )
    return (
        succ.select("a_id", F.explode("__succ").alias("b_id"))
        .filter(F.col("b_id").isNotNull())
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    threshold: float = 0.4,
    num_hashes: int = MINHASH_NUM_HASHES,
    band_size: int | str = MINHASH_BAND_SIZE,
    max_shingle_freq: int | None = None,
    persist_shingles=None,
    max_band_successors: int | None = None,
) -> DataFrame:
    """MinHash/LSH near-dup pipeline: shingle → signature → band-join →
    verify candidates with true Jaccard ≥ threshold.

    ``max_band_successors``: output-capped candidate generation
    (:func:`lsh_candidate_pairs_capped`) — each doc pairs with at most m
    id-ordered successors per band bucket, bounding clique output at
    c·m·n_bands pairs (the r12 scale smoke's ~50× pair growth becomes
    ~linear). Clustering recall: see lsh_candidate_pairs_capped — chains
    keep cliques connected unless ≥ m verification-failing colliders
    interleave between consecutive members in EVERY band; a deliberate
    recall/output trade.

    Verification is candidate-restricted: the shingle set is semi-joined to
    candidate docs before the pair join, so Jaccard cost scales with the
    candidate count, not the corpus — the property that keeps this linear-ish
    at 10^9 docs (all-pairs verify would be quadratic).

    ``persist_shingles``: the shingle set feeds four consumers (signatures,
    sizes, both sides of the intersection join). Default None recomputes the
    narrow scan→explode pipeline per consumer — measurably faster than
    cache-materialization at bench scale (no extra jobs, stays in codegen).
    On a multi-TB corpus pass ``StorageLevel.DISK_ONLY`` instead: four scans
    of the raw table would dominate, and memory-cached deserialized rows of
    a corpus-sized shingle set would not fit.

    Cache lifecycle: the internal signature/candidate persists are tracked —
    a long-lived session calls ``operators._cache.release_caches()`` after
    the result is materialized (ADVICE r4).

    ``band_size="auto"`` (VERDICT r13 item 1): band width from the memoized
    corpus count (:func:`adaptive_band_size`) — 2 lanes (32-bit signatures)
    through n = 2^28 docs, then wider, holding accidental band colliders
    ≈ constant so the capped emitter's chain-connectivity contract
    survives corpus growth. The band COUNT stays ``num_hashes //
    MINHASH_BAND_SIZE`` (default 4 — recall comes from OR over bands), so
    the total signature width scales to bands·band_size lanes. Resolved at
    plan build and memoized per corpus frame — the corpus_count freeze
    caveat applies (re-``load_table`` over mutated storage)."""
    if band_size == "auto":
        from .similarity import corpus_count

        n_bands = max(1, num_hashes // MINHASH_BAND_SIZE)
        band_size = adaptive_band_size(corpus_count(df))
        num_hashes = n_bands * band_size
    sh = word_shingles(df, id_col, text_col, k, max_shingle_freq)
    if persist_shingles is not None:
        sh = persist_tracked(sh, persist_shingles)
    # The signature table is one row per doc (8 lane mins + count) — a
    # sliver of the corpus — and feeds candidate generation AND both size
    # lookups. persist it so the md5-per-shingle aggregation (the pipeline's
    # dominant compute) runs exactly once; downstream consumers re-derive
    # from the cached signatures. The candidate pair list is additionally
    # persisted for its three consumers (two semi-join filters + pair join).
    sig = persist_tracked(minhash_signatures(sh, num_hashes))
    cand = persist_tracked(
        lsh_candidate_pairs(sig, num_hashes, band_size)
        if max_band_successors is None
        else lsh_candidate_pairs_capped(
            sig, num_hashes, band_size, max_band_successors
        )
    )

    # Candidate-restriction made physical: each shingle side carries only
    # candidate docs' shingles into the pair join, so at corpus scale the
    # verify cost is O(candidate shingles), not O(all shingles). The size
    # lookups are restricted the same way. NO forced broadcasts anywhere in
    # the verify stage (VERDICT r4 item 1): the candidate id sets and the
    # per-doc sizes table both GROW with the corpus, so a broadcast hint is
    # an eventual OOM; AQE broadcasts them at runtime while they are
    # genuinely small and switches to hash-partitioned joins beyond that.
    # Candidate doc ids via a 2-element explode + ONE distinct (r10 q25
    # profiling): the previous per-side distinct + unionByName + distinct
    # ran THREE id-keyed shuffles and seven driver-side plan ops for the
    # same set — the explode form is one shuffle and one op, which matters
    # both at corpus scale (two fewer exchanges of a corpus-growing id set)
    # and on the bench (q25's warm time was ~2/3 driver-side plan
    # construction/analysis).
    cand_doc_ids = cand.selectExpr("explode(array(a_id, b_id)) AS doc").distinct()
    if persist_shingles is not None or max_shingle_freq is not None:
        # Materialized shingles (reuse the cache), or a frequency cap
        # (whose counts must come from the FULL corpus shingle set):
        # semi-join AFTER shingling.
        cand_sh = sh.join(cand_doc_ids, "doc", "semi")
    else:
        # No materialized shingles → push the restriction UPSTREAM of the
        # explode: semi-join the RAW docs to the union of candidate ids,
        # tokenize+explode ONCE (candidates are a sliver of the corpus) —
        # one restricted pass instead of two full corpus passes (measured
        # ~2× on q25 at sf0.1).
        dc = df.join(
            cand_doc_ids.selectExpr(f"doc AS `{id_col}`"), id_col, "semi"
        )
        # spread=False: dc is candidate-restricted (a sliver of the corpus)
        # and post-shuffle partitioned by the semi-join — the spread gate
        # would no-op; skipping it saves the per-evaluation probe (an RDD
        # conversion of the join plan, paid twice per bench invocation).
        cand_sh = word_shingles(dc, id_col, text_col, k, spread=False)
    # Verify via per-doc shingle ARRAYS + array_intersect, not an exploded
    # (pair × shingle) equi-join (VERDICT r6 item 2 — q25's verify-join
    # constants were the one volume query above the 2× envelope). The old
    # shape shuffled |pairs|·|shingles-per-doc| exploded rows through a
    # pair-keyed aggregation and then joined sizes twice; this shape
    # aggregates candidate shingles ONCE per doc (map-side combined,
    # candidate-restricted) and ships each doc's array to its pairs, where
    # intersection/union sizes are a single JVM hash-set pass per pair —
    # no per-shingle shuffle, no size lookups (|array| IS n_shingles,
    # identical to the signature count: same distinct set). Measured
    # 1.75→1.1 s warm at sf0.1 (oracle 0.8 s). Arrays are bounded by
    # single-document shingle counts — the same per-doc envelope every
    # verify strategy must hold in memory.
    arrs = persist_tracked(
        cand_sh.groupBy("doc").agg(F.expr("collect_list(shingle) AS __arr"))
    )
    aa = arrs.selectExpr("doc AS a_id", "__arr AS __arr_a")
    bb = arrs.selectExpr("doc AS b_id", "__arr AS __arr_b")
    return (
        cand.join(aa, "a_id")
        .join(bb, "b_id")
        .selectExpr(
            "a_id",
            "b_id",
            "size(array_intersect(__arr_a, __arr_b)) AS intersection",
            "(size(__arr_a) + size(__arr_b)) AS __nab",
        )
        # second projection computes jaccard from the named sizes (withColumn
        # would rebuild the full projection a second time driver-side)
        .selectExpr(
            "a_id",
            "b_id",
            "intersection",
            "round(CAST(intersection AS DOUBLE)"
            " / CAST(__nab - intersection AS DOUBLE), 4) AS jaccard",
        )
        .where(F.col("jaccard") >= threshold)
    )


# ----------------------------------------------------------------------
# Substring-level (token-window) decontamination


def window_decontaminate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    eval_ids: DataFrame,
    window: int = 8,
) -> DataFrame:
    """Substring-level decontamination: training docs sharing ANY verbatim
    ``window``-token span with an eval/benchmark document.

    This is the dedup modality doc-hash (q49) and chunk-hash (q70) both
    miss: a 50-token benchmark answer pasted into a 10k-token web page
    changes every doc- and chunk-level hash but still leaks the benchmark
    (the reason real pipelines run suffix-array / n-gram overlap passes).
    A fixed-length token window is the sortable/joinable form of the suffix
    check: two texts share a ≥window-token substring iff they share a
    window-token window, so the suffix-array pass reduces to an EQUI-JOIN
    on window hashes — the only shape that scales.

    ``eval_ids``: one-column DataFrame of benchmark doc ids (benchmark
    suites are small by nature, but the join carries no broadcast hint —
    AQE decides). Returns one row per contaminated training doc:
    ``(doc_id, n_shared_windows, first_eval_doc)`` where first_eval_doc is
    the smallest eval doc id sharing a window (the provenance pointer).

    Scale shape: windows are md5-hashed so the shuffle key is 32 bytes
    regardless of window length; eval-side windows are benchmark-sized; the
    train side never self-joins. Reuses ``word_shingles`` (distinct windows
    per doc, zero-shuffle generation).
    """
    eids = eval_ids.toDF("__eid")
    wins = word_shingles(df, id_col, text_col, k=window).select(
        "doc", F.md5(F.col("shingle")).alias("wh")
    )
    eval_w = (
        wins.join(eids, wins.doc == eids.__eid, "semi")
        .groupBy("wh")
        .agg(F.min("doc").alias("first_eval_doc"))
    )
    train_w = wins.join(eids, wins.doc == eids.__eid, "anti")
    return (
        train_w.join(eval_w, "wh")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.count("*").alias("n_shared_windows"),
            F.min("first_eval_doc").alias("first_eval_doc"),
        )
    )


def positional_windows(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """``(doc, pos, wh)``: md5 hash of every k-token window WITH its
    0-based token position — the positional form of ``word_shingles``
    (which distincts windows away). Zero-shuffle narrow map."""
    tokenized = df.select(
        F.col(id_col).alias("doc"), F.split(normalized_text(F.col(text_col)), " ").alias("__toks")
    )
    toks = F.col("__toks")
    idx = F.when(F.size(toks) >= k, F.sequence(F.lit(0), F.size(toks) - k)).otherwise(
        F.array().cast("array<int>")
    )
    wins = F.transform(idx, lambda i: F.md5(F.array_join(F.slice(toks, i + 1, k), " ")))
    return tokenized.select("doc", F.posexplode(wins).alias("pos", "wh"))


def longest_shared_run(
    df: DataFrame,
    id_col: str,
    text_col: str,
    eval_ids: DataFrame,
    base_window: int = 8,
    min_run: int | None = None,
) -> DataFrame:
    """Longest-shared-substring decontamination (VERDICT r5 item 5): for
    each (training doc, eval doc) pair sharing a verbatim token run of
    ≥ ``base_window`` tokens, the EXACT length of their longest shared run
    — the suffix-array formulation The Pile/Gopher pipelines actually
    apply ("remove any match ≥ 50 tokens"), strictly generalizing
    ``window_decontaminate``'s fixed-window yes/no.

    Spark-first reduction instead of a distributed suffix array: a shared
    run of length L ≥ k appears as exactly L−k+1 matched k-windows at
    CONSECUTIVE training positions on one DIAGONAL (train_pos − eval_pos
    constant). So: equi-join positional window hashes, group by (train,
    eval, diag), find the longest consecutive-position island (the
    ``pos − row_number()`` trick), and report ``island_len + k − 1``.
    Every step is an equi-join or a bounded window — the (train, eval,
    diag) partition is capped by single-document length, never corpus
    size, so the plan survives 10^9 docs where a global suffix sort would
    not.

    Returns ``(doc_id, eval_doc, longest_run_tokens)``; ``min_run`` (≥
    base_window) filters to runs at least that long. md5-hashed windows
    make the whole computation oracle-mirrorable.
    """
    eids = eval_ids.toDF("__eid")
    wins = positional_windows(df, id_col, text_col, base_window)
    ew = wins.join(eids, wins.doc == eids.__eid, "semi").select(
        F.col("doc").alias("eval_doc"), F.col("pos").alias("epos"), "wh"
    )
    tw = wins.join(eids, wins.doc == eids.__eid, "anti")
    m = tw.join(ew, "wh").select(
        "doc", "eval_doc", "pos", (F.col("pos") - F.col("epos")).alias("diag")
    )
    w = Window.partitionBy("doc", "eval_doc", "diag").orderBy("pos")
    runs = (
        m.withColumn("island", F.col("pos") - F.row_number().over(w))
        .groupBy("doc", "eval_doc", "diag", "island")
        .agg((F.count("*") + F.lit(base_window - 1)).alias("run_len"))
    )
    out = (
        runs.groupBy(F.col("doc").alias("doc_id"), "eval_doc")
        .agg(F.max("run_len").cast("long").alias("longest_run_tokens"))
    )
    if min_run is not None:
        out = out.filter(F.col("longest_run_tokens") >= min_run)
    return out


# ----------------------------------------------------------------------
# SimHash

SIMHASH_BITS = 60  # 15 hex chars of md5 → fits a signed 64-bit long


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-doc SimHash fingerprint over word tokens.

    Token hash = first 15 hex chars of md5 (60 bits). Each bit contributes
    +count / -count to its lane; fingerprint bit = sign of the lane sum.
    Pure expressions: explode tokens → per-bit lane sums in one aggregation →
    reassemble with bit arithmetic. Returns ``(doc, simhash)`` with simhash
    as a non-negative 60-bit long.
    """
    # expr strings over stacked F.* builders (r11): 60 lane aggregates ×
    # ~8 py4j round-trips each plus the 60-term fingerprint chain were
    # ~2.5 s of pure driver-side construction per build (the q25/q53 cost
    # class); identical Catalyst expressions, one JVM parse per string.
    # Degenerate-scan spread (r17, guide §2.5): same rationale as
    # word_shingles — the token explode multiplies rows ~300× and feeds a
    # 60-lane aggregation; a single-row-group scan serializes all of it.
    toks = (
        spread_degenerate_scan(df, id_col)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("tok"),
        )
        .groupBy("doc", "tok")
        .agg(F.count("*").alias("cnt"))
        .withColumn("th", F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long"))
    )
    lane_aggs = [
        F.expr(
            f"sum(CASE WHEN (shiftright(th, {j}) & 1) = 1 THEN cnt ELSE -cnt END)"
            f" AS lane{j}"
        )
        for j in range(bits)
    ]
    lanes = toks.groupBy("doc").agg(*lane_aggs)
    fingerprint_sql = " + ".join(
        f"shiftleft(CASE WHEN lane{j} > 0 THEN CAST(1 AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END, {j})"
        for j in range(bits)
    )
    return lanes.selectExpr("doc", f"({fingerprint_sql}) AS simhash")


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3, bits: int = SIMHASH_BITS
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Candidate generation by banding the fingerprint into ``max_hamming + 1``
    chunks (pigeonhole: d differing bits cannot touch all d+1 chunks, so
    distance ≤ max_hamming guarantees at least one identical chunk), then
    exact Hamming verify via bit_count(xor). Equi-join on chunks — no
    all-pairs scan. Smaller chunks (higher max_hamming) admit more false
    candidates; the verify step keeps the result exact either way.
    """
    sh = simhash(df, id_col, text_col, bits)
    n_chunks = max_hamming + 1
    base, extra = divmod(bits, n_chunks)
    # chunk i covers [offset, offset + width): first `extra` chunks one wider
    widths = [base + (1 if i < extra else 0) for i in range(n_chunks)]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk_id"),
                F.shiftright(F.col("simhash"), offsets[i])
                .bitwiseAND(F.lit((1 << widths[i]) - 1))
                .alias("chunk_val"),
            )
            for i in range(n_chunks)
        ]
    )
    exploded = sh.select("doc", "simhash", F.explode(chunks).alias("c")).select(
        "doc", "simhash", F.col("c.chunk_id").alias("chunk_id"), F.col("c.chunk_val").alias("chunk_val")
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("a_id"),
            F.col("b.doc").alias("b_id"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ----------------------------------------------------------------------
# Incremental MinHash index


def fold_minhash_index(
    spark,
    target_root: str,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    threshold: float = 0.4,
    num_hashes: int = MINHASH_NUM_HASHES,
    band_size: int | str = MINHASH_BAND_SIZE,
    auto_widen: bool = False,
) -> DataFrame:
    """Fold a batch of NEW documents into a persistent MinHash near-dup
    index and return the accumulated pair log.

    ``band_size="auto"`` (r14): batch 0 sizes the band width from the
    adaptive ladder and FREEZES it as a store marker — the band structure
    must stay constant across folds, so the ladder never re-evaluates on
    later folds. ``auto_widen=True`` additionally re-evaluates the ladder
    against the ACCUMULATED doc count after each fold and, when the index
    has outgrown its frozen width, rebuilds the signature table from the
    stored shingles at the wider width (:func:`reindex_minhash_width`) —
    one atomic replace commit, O(corpus) by necessity but amortized over
    the ~2^16× growth between ladder rungs. Pairs already verified stay
    (exact Jaccard doesn't depend on banding); the whole-corpus-equality
    invariant then holds piecewise per width era — pairs discovered after
    a widening follow the wider structure's recall curve.

    The 100 TB ingestion shape: when data lands, its near-dups are found
    against the existing corpus WITHOUT recomputing it — the batch's
    signatures band-join the STORED band index, and exact-Jaccard verify
    reads only candidate docs' stored shingle sets. Each qualifying pair is
    discovered exactly once, when its later member arrives (old–old pairs
    never re-join), so the accumulated pair log after folding batches
    b0..bn equals ``minhash_dedup_pairs`` over the concatenated corpus —
    the invariant q113 gates against the whole-corpus oracle.

    Index layout: ONE crash-safe versioned store (streaming/store.py) whose
    manifest snapshot lists three accumulated tables committed atomically
    together — ``shingles`` (doc, shingle — the verify side), ``sigs``
    (doc, lane mins, n_shingles — the band side), ``pairs`` (the
    accumulated result log) — so the pair log can never run ahead of the
    index that discovered it. Each fold writes ONLY the new batch's rows
    as immutable parts (store_commit_parts, ADVICE r5): commit I/O is
    O(batch), not an O(total-corpus) snapshot rewrite, which is what makes
    the "ingest without recomputing the corpus" framing true for the
    WRITE path too. State grows with the corpus, as any dedup index must;
    every join here is id-/band-keyed with no broadcast hints.
    """
    from ..streaming.store import store_commit_parts, store_marker, store_read_part

    markers = None
    if band_size == "auto":
        # Frozen-width contract (r14): band structure must be CONSTANT
        # across folds (sig_old ∪ sig_new must share lane columns), so auto
        # resolves once — batch 0 sizes the ladder and the choice commits
        # as a marker; later folds read the marker, never the count. Width
        # growth is an explicit, atomic rebuild: reindex_minhash_width
        # (or fold with auto_widen=True to trigger it from the ladder).
        n_bands = max(1, num_hashes // MINHASH_BAND_SIZE)
        frozen = store_marker(target_root, "_minhash_width")
        if frozen:
            num_hashes, band_size = (int(x) for x in frozen.split(":"))
        else:
            band_size = adaptive_band_size(new_docs.count())
            num_hashes = n_bands * band_size
        markers = {"_minhash_width": f"{num_hashes}:{band_size}"}

    sh_new = word_shingles(new_docs, id_col, text_col, k)
    sig_new = minhash_signatures(sh_new, num_hashes).persist()

    sh_old = store_read_part(spark, target_root, "shingles")
    sig_old = store_read_part(spark, target_root, "sigs")
    sig_all = sig_new if sig_old is None else sig_old.unionByName(sig_new)
    sh_all = sh_new if sh_old is None else sh_old.unionByName(sh_new)

    def bands(sig):
        arr = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        "|", *[F.col(f"h{b * band_size + i}") for i in range(band_size)]
                    ).alias("band_sig"),
                )
                for b in range(num_hashes // band_size)
            ]
        )
        return sig.select("doc", F.explode(arr).alias("b")).select(
            "doc", F.col("b.band").alias("band"), F.col("b.band_sig").alias("band_sig")
        )

    # candidates: NEW docs vs the whole (old ∪ new) band index; pair once,
    # unordered-normalized so cross-batch arrival order cannot flip ids
    bn = bands(sig_new).alias("n")
    ba = bands(sig_all).alias("a")
    cand = (
        bn.join(
            ba,
            (F.col("n.band") == F.col("a.band"))
            & (F.col("n.band_sig") == F.col("a.band_sig"))
            & (F.col("n.doc") != F.col("a.doc")),
        )
        .select(
            F.least(F.col("n.doc"), F.col("a.doc")).alias("a_id"),
            F.greatest(F.col("n.doc"), F.col("a.doc")).alias("b_id"),
        )
        .distinct()
        .persist()
    )
    a_ids = cand.select("a_id").distinct()
    b_ids = cand.select("b_id").distinct()
    sh_a = sh_all.select(F.col("doc").alias("a_id"), "shingle").join(a_ids, "a_id", "semi")
    sh_b = sh_all.select(F.col("doc").alias("b_id"), "shingle").join(b_ids, "b_id", "semi")
    sizes = sig_all.select("doc", "n_shingles")
    sa = sizes.select(F.col("doc").alias("a_id"), F.col("n_shingles").alias("na")).join(
        a_ids, "a_id", "semi"
    )
    sb = sizes.select(F.col("doc").alias("b_id"), F.col("n_shingles").alias("nb")).join(
        b_ids, "b_id", "semi"
    )
    new_pairs = (
        cand.join(sh_a, "a_id")
        .join(sh_b, ["b_id", "shingle"])
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("intersection"))
        .join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("intersection").cast("double")
                / (F.col("na") + F.col("nb") - F.col("intersection")).cast("double"),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "intersection", "jaccard")
    )

    # ONE atomic manifest commit for all three tables: pairs acknowledged,
    # the signature index that discovered them, and the shingle sets that
    # verified them move together — a crash can never leave the pair log
    # ahead of the index (which would re-discover the batch's pairs on the
    # next fold and duplicate them). Only the NEW batch's rows are written;
    # prior parts are immutable and merely re-listed by the manifest.
    store_commit_parts(
        {"pairs": new_pairs, "shingles": sh_new, "sigs": sig_new},
        target_root,
        markers=markers,
    )
    sig_new.unpersist()
    cand.unpersist()
    if auto_widen and markers is not None:
        total = store_read_part(spark, target_root, "sigs").count()
        want = adaptive_band_size(total)
        if want > band_size:
            reindex_minhash_width(
                spark, target_root, want, n_bands=num_hashes // band_size
            )
    return store_read_part(spark, target_root, "pairs")


def reindex_minhash_width(
    spark,
    target_root: str,
    band_size: int,
    n_bands: int = MINHASH_NUM_HASHES // MINHASH_BAND_SIZE,
) -> None:
    """Re-widen a fold_minhash_index store's signatures (r14, the
    incremental-index answer to the adaptive-width policy): recompute the
    ``sigs`` table from the STORED shingle sets at ``n_bands·band_size``
    lanes and commit it as one atomic replace (``store_commit_parts``
    ``replace_parts`` — shingles and the pair log are untouched, the
    superseded signature parts are GC'd after the pointer commit, and the
    ``_minhash_width`` marker moves with the new table).

    Why it exists: the fold index freezes its band structure at batch 0,
    so an index born at 10⁶ docs still runs 32-bit band signatures at 10⁹
    — exactly the collider regime adaptive_band_size exists to avoid, and
    the one case the one-shot auto mode can't reach. The stored shingle
    sets make the rebuild possible without the original corpus. Pairs
    already in the log remain valid (they were verified with exact
    Jaccard); future folds discover under the wider structure.
    """
    from ..streaming.store import store_commit_parts, store_read_part

    sh = store_read_part(spark, target_root, "shingles")
    if sh is None:
        raise ValueError(f"reindex_minhash_width: no index at {target_root!r}")
    # A doc re-ingested across folds has duplicate (doc, shingle) rows in the
    # part union; without dedup its rebuilt n_shingles is inflated and every
    # later Jaccard involving it UNDERestimates (missed duplicates). Min
    # lanes are idempotent — only the count needs the distinct (ADVICE r14).
    sh = sh.dropDuplicates(["doc", "shingle"])
    num_hashes = n_bands * band_size
    sigs = minhash_signatures(sh, num_hashes)
    store_commit_parts(
        {},
        target_root,
        markers={"_minhash_width": f"{num_hashes}:{band_size}"},
        replace_parts={"sigs": sigs},
    )


def adaptive_shingle_k(n_blocked: int) -> int:
    """Contamination shingle width from accumulated blocklist size: k=5
    through 2^25 blocked shingles (≈33 M — far beyond any benchmark suite),
    +1 word per further 2^13× growth.

    Rationale: expected incidental (non-contaminated) k-gram collisions
    scale with |blocklist| / |k-gram space|, and each +1 word multiplies
    the space by the effective working vocabulary — conservatively ≥ 2^13
    (Heaps'-law vocabularies are 10^4-10^5) — so one rung absorbs 2^13× of
    blocklist growth at constant expected-collision mass. Integer-only so
    the trigger is deterministic and oracle-mirrorable, like
    adaptive_band_size / adaptive_num_planes."""
    if n_blocked <= (1 << 25):
        return 5
    return 5 + ((n_blocked - 1).bit_length() - 26) // 13 + 1


def _contamination_texts_complete(target_root: str) -> bool:
    """Does the store's ``texts`` table cover EVERY fold? (r16 ADVICE,
    medium.) The ``_contamination_texts_complete`` marker is authoritative
    once present — ``false`` is permanent (a keep_texts=False fold's
    protected docs are unrecoverable). Pre-marker stores are inferred from
    the live manifest: every fold appends exactly one ``blocked`` part and
    one ``texts`` part iff it kept texts, so a texts list SHORTER than the
    blocked list proves at least one fold skipped texts (reindex collapses
    ``blocked`` to one part, which can only shrink the blocked side — the
    inference errs toward blocking a reindex, never toward allowing a
    partial rebuild)."""
    from ..streaming.store import _manifest_of, store_marker, store_version_dir

    marker = store_marker(target_root, "_contamination_texts_complete")
    if marker is not None:
        return marker == "true"
    vd = store_version_dir(target_root)
    if vd is None:
        return True  # fresh store: nothing folded yet
    manifest = _manifest_of(vd) or {}
    return len(manifest.get("texts") or []) >= len(manifest.get("blocked") or [])


def fold_contamination_index(
    spark,
    target_root: str,
    protected_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int | None = None,
    keep_texts: bool = True,
    auto_widen: bool = False,
) -> None:
    """Fold a batch of PROTECTED (benchmark/eval) documents' distinct
    k-shingle hashes into a persistent contamination blocklist — the
    incremental form of the q143/q49 decontamination family: benchmark
    suites arrive over time, and re-shingling the whole protected set per
    arrival is O(total); this is O(batch).

    Each fold commits one append-only ``blocked`` part (32-byte md5 hashes)
    via the manifest store, so commits are atomic, O(batch), and fold-order
    invariant: the accumulated DISTINCT union equals the one-shot blocklist
    over all protected docs (set union is associative/commutative/
    idempotent — the oracle states exactly that).

    Width contract (r15, VERDICT r14 item 4 — the last fold family without
    a growth path): ``k`` freezes at batch 0 as the ``_contamination_k``
    marker; a later fold passing a DIFFERENT k raises instead of silently
    mixing widths in one blocklist. ``k=None`` (the default, r16 ADVICE)
    adopts the frozen width — so repeated default-argument folds keep
    working after an ``auto_widen`` rebuild moved the marker — and falls
    back to 5 on a fresh store. Unlike the MinHash index, a wider k is NOT
    derivable from the stored hashes (k-grams don't compose into
    (k+1)-grams), so each fold also stores its batch's (doc, text) rows as
    a ``texts`` part (``keep_texts=True``, the default) — the re-fold
    input :func:`reindex_contamination_k` rebuilds from.
    ``keep_texts=False`` keeps the old raw-text-never-stored property and
    PERMANENTLY forfeits the growth path for the whole store: the
    ``_contamination_texts_complete`` marker flips to ``false`` on the
    first such fold and never flips back (r16 ADVICE, medium — a LATER
    keep_texts=True fold must not make the partial ``texts`` table look
    rebuildable: reindexing from it would silently drop the untracked
    folds' blocked hashes, under-blocking a decontamination gate).
    ``auto_widen=True`` re-evaluates :func:`adaptive_shingle_k` against
    the ACCUMULATED blocklist size after each fold and triggers the
    rebuild when outgrown; combining it with an incomplete texts table
    (this fold or any earlier one passing ``keep_texts=False``) raises
    loudly UP FRONT — before any commit — rather than failing later
    inside the triggered rebuild.
    """
    from ..streaming.store import store_commit_parts, store_marker, store_read_part

    frozen = store_marker(target_root, "_contamination_k")
    will_be_complete = _contamination_texts_complete(target_root) and keep_texts
    if auto_widen and not will_be_complete:
        raise ValueError(
            "fold_contamination_index: auto_widen=True needs the COMPLETE "
            "protected texts to rebuild from, but this store's texts table "
            "is (or would become) partial — a fold passed keep_texts=False. "
            "Re-fold every protected suite from source with keep_texts=True "
            "into a fresh store to regain the growth path."
        )
    if frozen is not None:
        if k is not None and k != int(frozen):
            raise ValueError(
                f"fold_contamination_index: k={k} differs from the store's "
                f"frozen width {frozen} — one blocklist cannot mix shingle "
                f"widths. Pass k=None to adopt the frozen width, or "
                f"reindex_contamination_k({target_root!r}, {k}) to migrate."
            )
        k = int(frozen)
    elif k is None:
        k = 5
    sh = (
        word_shingles(protected_docs, id_col, text_col, k=k)
        .select(F.md5(F.col("shingle")).alias("h"))
        .distinct()
    )
    tables = {"blocked": sh}
    if keep_texts:
        tables["texts"] = protected_docs.select(
            F.col(id_col).alias("doc"), F.col(text_col).alias("text")
        )
    store_commit_parts(
        tables,
        target_root,
        markers={
            "_contamination_k": str(k),
            "_contamination_texts_complete": "true" if will_be_complete else "false",
        },
    )
    if auto_widen:
        total = store_read_part(spark, target_root, "blocked").distinct().count()
        want = adaptive_shingle_k(total)
        if want > k:
            reindex_contamination_k(spark, target_root, want)


def reindex_contamination_k(spark, target_root: str, new_k: int) -> None:
    """Rebuild a contamination blocklist at a wider shingle width from the
    stored protected texts — the growth path :func:`adaptive_shingle_k`
    triggers (mirrors reindex_minhash_width): one atomic
    ``replace_parts`` commit swaps the whole ``blocked`` table and moves
    the ``_contamination_k`` marker; the ``texts`` parts are untouched, so
    the operation is repeatable in either direction.

    Refuses unless the texts table is COMPLETE (r16 ADVICE, medium): a
    store that ever folded with ``keep_texts=False`` has texts for only
    SOME folds, and rebuilding from the partial table would atomically
    replace the whole blocklist with shingles from only the retained
    batches — silently un-blocking the untracked protected docs in a
    decontamination gate."""
    from ..streaming.store import store_commit_parts, store_read_part

    texts = store_read_part(spark, target_root, "texts")
    if texts is None or not _contamination_texts_complete(target_root):
        raise ValueError(
            f"reindex_contamination_k: the stored texts at {target_root!r} "
            "are missing or PARTIAL — at least one fold passed "
            "keep_texts=False, and a wider k is not derivable from shingle "
            "hashes alone (rebuilding from partial texts would silently "
            "drop the untracked folds' blocked hashes). Re-fold every "
            "protected suite from source at the new width into a fresh "
            "store."
        )
    # re-ingested docs appear once per fold in the texts union; the
    # DISTINCT blocklist would absorb exact duplicates anyway, but dedup
    # first so the shingle job is O(distinct docs)
    texts = texts.dropDuplicates(["doc"])
    blocked = (
        word_shingles(texts, "doc", "text", k=new_k)
        .select(F.md5(F.col("shingle")).alias("h"))
        .distinct()
    )
    store_commit_parts(
        {},
        target_root,
        # only reachable when texts are complete — re-assert the marker so
        # the rebuilt snapshot (whose markers are per-version) keeps it
        markers={
            "_contamination_k": str(new_k),
            "_contamination_texts_complete": "true",
        },
        replace_parts={"blocked": blocked},
    )


def contamination_scan(
    spark,
    target_root: str,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int | None = None,
) -> DataFrame:
    """(doc_id, n_blocked): corpus documents sharing ≥1 distinct k-shingle
    with the accumulated blocklist, with the count of blocked shingles.

    ``k`` defaults to the store's frozen ``_contamination_k`` marker —
    scanning at any other width silently matches nothing, so an explicit
    mismatching k raises (r15, same contract as the fold side).

    One shuffle on the 32-byte shingle hash; the blocklist side is
    DISTINCT'd across parts (batches may overlap), so a hot stop-shingle
    contributes at most one row per corpus occurrence — bounded, no pair
    explosion (the q143 join shape).
    """
    from ..streaming.store import store_marker, store_read_part

    blocked = store_read_part(spark, target_root, "blocked")
    if blocked is None:
        raise ValueError(f"no contamination index at {target_root}")
    frozen = store_marker(target_root, "_contamination_k")
    if frozen is not None:
        if k is not None and k != int(frozen):
            raise ValueError(
                f"contamination_scan: k={k} differs from the index's frozen "
                f"width {frozen} — a cross-width scan matches nothing. Omit "
                f"k to adopt the frozen width."
            )
        k = int(frozen)
    elif k is None:
        k = 5
    blocked = blocked.distinct()
    sh = word_shingles(corpus, id_col, text_col, k=k).select(
        F.col("doc").alias(id_col), F.md5(F.col("shingle")).alias("h")
    )
    return (
        sh.join(blocked, "h")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_blocked"))
    )


def near_dup_topk_per_doc(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    threshold: float = 0.4,
    k_neighbors: int = 3,
    max_band_successors: int | None = None,
    band_size: int | str = MINHASH_BAND_SIZE,
) -> DataFrame:
    """Per-document top-k near-duplicate NEIGHBORS: (doc_id, neighbor_id,
    jaccard, rank) — each doc's ``k_neighbors`` most-similar verified
    near-dups (jaccard DESC, neighbor id ASC tie-break). The
    ``max_pairs_per_doc`` OUTPUT-cap companion to the candidate-side
    successor caps (VERDICT r12 item 4): even where the verified pair set
    is clique-quadratic, what leaves the operator is ≤ k rows per doc.

    Composes with ``max_band_successors`` (cap candidates AND output) or
    runs over the full banded pipeline. The per-doc cut uses the
    two-phase topk (ranking.topk_per_group) — never a per-doc single-task
    sort over a corpus-sized neighbor list."""
    from .ranking import topk_per_group

    pairs = minhash_dedup_pairs(
        df,
        id_col,
        text_col,
        k=k,
        threshold=threshold,
        band_size=band_size,
        max_band_successors=max_band_successors,
    )
    both = pairs.selectExpr(
        "a_id AS doc_id", "b_id AS neighbor_id", "jaccard"
    ).unionByName(
        pairs.selectExpr("b_id AS doc_id", "a_id AS neighbor_id", "jaccard")
    )
    return topk_per_group(
        both,
        ["doc_id"],
        [],
        k_neighbors,
        order_sql="jaccard DESC, neighbor_id ASC",
    ).select("doc_id", "neighbor_id", "jaccard", "rank")
