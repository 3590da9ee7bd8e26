"""Character-level substring operators (operators/substr.py): the
prefix-doubling suffix ranks must group positions EXACTLY like literal
L-gram equality — including document tails, non-power-of-two L, and the
multi-partition execution that exposed the with_global_ranks branch-
consistency hazard (r8)."""

from __future__ import annotations

import collections
import hashlib

import pytest

from pyspark.sql import functions as F

from scraper_db_refine_merge_spark.operators.substr import (
    char_grams,
    substring_contamination,
    suffix_ngram_groups,
)
from scraper_db_refine_merge_spark.sources.tables import load_table

ROWS = [
    (1, "abcabcabcX"),
    (2, "zabcabcq"),
    (3, "short"),
    (4, "aaaaaaaa"),
    (5, "qqabcab"),
]


def _expected_groups(rows, L):
    exp = collections.defaultdict(list)
    for d, t in rows:
        for i in range(1, len(t) - L + 2):
            exp[t[i - 1 : i - 1 + L]].append((d, i))
    return sorted(sorted(v) for v in exp.values())


@pytest.mark.slow
def test_suffix_groups_equal_literal_grouping(spark):
    """L spanning powers of two and odd values, with repeats across and
    within docs, self-overlapping runs (aaaa…), and tails shorter than L —
    in BOTH regimes: the direct short-circuit (default at these L) and the
    prefix-doubling ladder (forced via direct_max=0)."""
    df = spark.createDataFrame(ROWS, "doc_id long, text string")
    for direct_max in (None, 0):
        for L in (1, 2, 3, 5, 7):
            g = suffix_ngram_groups(df, "doc_id", "text", L, direct_max=direct_max)
            by_key = collections.defaultdict(list)
            for r in g.collect():
                by_key[(r["g1"], r["g2"])].append((r["doc"], r["pos"]))
            got = sorted(sorted(v) for v in by_key.values())
            assert got == _expected_groups(ROWS, L), (direct_max, L)


@pytest.mark.slow
def test_suffix_groups_match_hashed_grams_multipartition(spark, sf_dir):
    """The r8 regression: at multi-partition scale, per-gram occurrence
    counts from the rank construction must equal the direct md5-gram
    grouping — this is exactly the shape whose two-branch exchange reuse
    broke under AQE before partition pinning (nondeterministic, lost
    rows). Runs twice to pin determinism. L=20 with the 8-char hybrid seed
    exercises a doubling round (8→16) AND the non-power-of-two overlap key
    (r16[i], r16[i+4]); direct_max=0 forces the LADDER regime (the default
    at L=20 would take the r11 direct short-circuit, separately checked
    below against the same truth)."""
    d = load_table(spark, sf_dir, "documents")
    L = 20

    def profile():
        g = suffix_ngram_groups(d, "doc_id", "text", L, direct_max=0)
        return sorted(
            map(
                tuple,
                g.groupBy("g1", "g2")
                .count()
                .groupBy("count")
                .agg(F.count("*").alias("n"))
                .collect(),
            )
        )

    truth = sorted(
        map(
            tuple,
            char_grams(d, "doc_id", "text", L)
            .groupBy("h")
            .count()
            .groupBy("count")
            .agg(F.count("*").alias("n"))
            .collect(),
        )
    )
    assert truth  # non-degenerate fixture
    first = profile()
    assert first == truth
    assert profile() == first
    # the DIRECT regime (default at L=20) must produce the same profile
    direct = sorted(
        map(
            tuple,
            suffix_ngram_groups(d, "doc_id", "text", L)
            .groupBy("g1", "g2")
            .count()
            .groupBy("count")
            .agg(F.count("*").alias("n"))
            .collect(),
        )
    )
    assert direct == truth


def test_char_grams_stride_and_short_docs(spark):
    df = spark.createDataFrame(ROWS, "doc_id long, text string")
    got = sorted(map(tuple, char_grams(df, "doc_id", "text", 3, stride=2).collect()))
    exp = []
    for d, t in ROWS:
        for i in range(1, len(t) - 1, 2):
            exp.append((d, i, hashlib.md5(t[i - 1 : i + 2].encode()).hexdigest()))
    assert got == sorted(exp)
    # a doc shorter than L contributes nothing (and must not crash sequence())
    tiny = spark.createDataFrame([(9, "ab")], "doc_id long, text string")
    assert char_grams(tiny, "doc_id", "text", 3).count() == 0


def test_substring_contamination_bruteforce(spark):
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "lorem ipsum dolor"), (3, "brown fox jumps")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "a brown fox appears"), (101, "unrelated words")],
        "doc_id long, text string",
    )
    L = 9
    out = {
        r["doc_id"]: (r["n_positions"], r["n_matched"], r["contaminated"])
        for r in substring_contamination(corpus, bench, "doc_id", "text", L).collect()
    }
    bgrams = set()
    for _, t in [(100, "a brown fox appears"), (101, "unrelated words")]:
        bgrams |= {t[i : i + L] for i in range(len(t) - L + 1)}
    exp = {}
    for d, t in [(1, "the quick brown fox"), (2, "lorem ipsum dolor"), (3, "brown fox jumps")]:
        grams = [t[i : i + L] for i in range(len(t) - L + 1)]
        m = sum(1 for g in grams if g in bgrams)
        exp[d] = (len(grams), m, m > 0)
    assert out == exp
    assert exp[1][2] and exp[3][2] and not exp[2][2]  # fixture non-trivial


def test_redact_repeated_spans_handcase(spark):
    """Docs 1 and 2 share the 8-char span 'ABCDEFGH'; doc 1 holds the
    globally-first occurrence and keeps it, doc 2's copy is cut; doc 3 has
    no repeats and passes through untouched."""
    from scraper_db_refine_merge_spark.operators.substr import redact_repeated_spans

    rows = [
        (1, "..ABCDEFGH--"),
        (2, "zzABCDEFGHyy"),
        (3, "no repeats here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_spans"], r["n_removed"], r["cleaned"])
        for r in redact_repeated_spans(df, "doc_id", "text", 8).collect()
    }
    # global first occurrence of 'ABCDEFGH' is (doc 1, pos 3) -> kept
    assert out[1] == (0, 0, "..ABCDEFGH--")
    # doc 2: the single marked position (pos 3) cuts [3, 10]
    assert out[2] == (1, 8, "zzyy")
    assert out[3] == (0, 0, "no repeats here at all")


def test_redact_overlapping_spans_merge(spark):
    """Two marked positions 4 apart with L=8 overlap -> ONE merged span;
    and a doc whose every position is marked redacts to empty."""
    from scraper_db_refine_merge_spark.operators.substr import redact_repeated_spans

    rows = [
        (1, "AAAABBBBCCCC....."),   # first occurrences, kept whole
        (2, "AAAABBBBCCCCzzzzz"),   # positions 1 and 5 marked -> [1,12] merged
        (3, "AAAABBBB"),            # fully covered -> empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_spans"], r["n_removed"], r["cleaned"])
        for r in redact_repeated_spans(df, "doc_id", "text", 8).collect()
    }
    assert out[1] == (0, 0, "AAAABBBBCCCC.....")
    assert out[2] == (1, 12, "zzzzz")
    assert out[3] == (1, 8, "")


@pytest.mark.slow
def test_dense_group_ids_dense_and_partition_invariant(spark):
    """r10 ladder core: ids are 1..#distinct (dense), equality classes
    match key classes exactly, and the assignment is a pure function of
    row VALUES — identical under any input partitioning (the property the
    old pinning machinery existed to enforce)."""
    from scraper_db_refine_merge_spark.operators.substr import _dense_group_ids

    df = spark.createDataFrame([(i, f"k{i % 7}") for i in range(1000)], "id long, k string")
    out = {r["id"]: r["r"] for r in _dense_group_ids(df, ["k"]).collect()}
    out17 = {
        r["id"]: r["r"] for r in _dense_group_ids(df.repartition(17), ["k"]).collect()
    }
    assert out == out17
    ids_per_key: dict[int, set] = {}
    for i, r in out.items():
        ids_per_key.setdefault(i % 7, set()).add(r)
    assert all(len(s) == 1 for s in ids_per_key.values())
    assert sorted(next(iter(s)) for s in ids_per_key.values()) == list(range(1, 8))
    # density and equality classes hold at ANY bucket count (a 100-TB run
    # raises the conf knob; ids need not be bit-identical across bucket
    # counts, only dense + class-consistent)
    knob = "spark.graft.substr.denseGroupBuckets"
    try:
        for nb in (7, 64):
            spark.conf.set(knob, str(nb))
            outb = {r["id"]: r["r"] for r in _dense_group_ids(df, ["k"]).collect()}
            per_key: dict[int, set] = {}
            for i, r in outb.items():
                per_key.setdefault(i % 7, set()).add(r)
            assert all(len(s) == 1 for s in per_key.values()), nb
            assert sorted(next(iter(s)) for s in per_key.values()) == list(range(1, 8)), nb
            # same-bucket-count reruns are bit-stable whatever the partitioning
            outb2 = {r["id"]: r["r"] for r in _dense_group_ids(df.repartition(5), ["k"]).collect()}
            assert outb == outb2, nb
    finally:
        spark.conf.unset(knob)


def test_resolve_n_buckets_conf_fallback_and_clamp(spark):
    """ADVICE r10: AQE-managed deployments set shuffle.partitions to
    'auto' — int() must not raise; and huge values must clamp so the
    per-bucket offset literal array stays driver-sized."""
    from scraper_db_refine_merge_spark.operators.substr import (
        _MAX_GROUP_BUCKETS,
        _resolve_n_buckets,
    )

    knob = "spark.graft.substr.denseGroupBuckets"
    try:
        cases = (("7", 7), (str(10**9), _MAX_GROUP_BUCKETS), ("0", 1), ("auto", 200), ("96", 96))
        for raw, want in cases:
            spark.conf.set(knob, raw)
            assert _resolve_n_buckets(spark) == want, raw
    finally:
        spark.conf.unset(knob)
    got = _resolve_n_buckets(spark)
    assert 1 <= got <= _MAX_GROUP_BUCKETS


def test_redact_caller_frame_with_doc_column(spark):
    """ADVICE r8: the span join must use dataframe-qualified keys — a
    caller frame that already carries a 'doc' column (the gram tables'
    internal name) previously raised AnalysisException on the ambiguous
    F.col('doc') reference."""
    from scraper_db_refine_merge_spark.operators.substr import redact_repeated_spans

    rows = [
        (1, "..ABCDEFGH--", "extra1"),
        (2, "zzABCDEFGHyy", "extra2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, doc string")
    out = {
        r["doc_id"]: (r["n_spans"], r["n_removed"], r["cleaned"])
        for r in redact_repeated_spans(df, "doc_id", "text", 8).collect()
    }
    assert out[1] == (0, 0, "..ABCDEFGH--")
    assert out[2] == (1, 8, "zzyy")


def test_stride_detection_guarantee(spark):
    """Strided corpus-side enumeration (stride k) must detect EVERY shared
    span of length >= L+k-1 regardless of alignment — place an (L+k-1)-char
    shared span at every offset mod k and assert detection. Also pin that
    the bound is tight: a span of only L chars at a worst-case alignment
    is allowed to be (and here is) missed."""
    L, k = 8, 4
    span = "ABCDEFGHIJK"  # L+k-1 = 11 chars
    assert len(span) == L + k - 1
    corpus_rows = [
        # pads of 0..k-1 'x's shift the span across all stride alignments
        (i, "x" * i + span + "zz" + str(i)) for i in range(k)
    ]
    # tight-bound row: an L-char span placed so no stride-boundary L-gram
    # fits inside it (starts at pos 2 with stride boundaries 1, 5, ...)
    corpus_rows.append((99, "x" + span[:L] + "qqqqqq"))
    bench = spark.createDataFrame([(1000, span + "---")], "doc_id long, text string")
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")

    from scraper_db_refine_merge_spark.operators.substr import substring_contamination

    out = {
        r["doc_id"]: r["contaminated"]
        for r in substring_contamination(
            corpus, bench, "doc_id", "text", L, stride=k
        ).collect()
    }
    for i in range(k):
        assert out[i], f"alignment {i} missed a {L+k-1}-char shared span"
    assert not out[99], "an L-char span at worst alignment should be missed (tight bound)"


def test_direct_regime_pair_hash_independently_seeded(spark):
    """ADVICE r11: g2 must be an INDEPENDENTLY seeded hash of the gram —
    salt FIRST (xxhash64(lit(1), gram)), never salt LAST
    (xxhash64(gram, lit(1)) == XXH64(1L, seed=g1), a pure function of g1
    that reduces the pair key to 64-bit collision resistance)."""
    df = spark.createDataFrame(ROWS, "doc_id long, text string")
    # recompute both forms directly from the grams and compare to g1/g2
    L = 3
    base = (
        df.filter(F.length("text") >= L)
        .select(
            F.col("doc_id").alias("doc"),
            F.explode(F.sequence(F.lit(1), F.length("text") - F.lit(L - 1))).alias("pos"),
            F.col("text").alias("__t"),
        )
        .select(
            "doc",
            "pos",
            F.xxhash64(F.expr(f"substr(__t, pos, {L})")).alias("e1"),
            F.xxhash64(F.lit(1), F.expr(f"substr(__t, pos, {L})")).alias("e2"),
            F.xxhash64(F.expr(f"substr(__t, pos, {L})"), F.lit(1)).alias("chained"),
        )
    )
    got = suffix_ngram_groups(df, "doc_id", "text", L)
    j = got.join(base, ["doc", "pos"]).collect()
    assert j, "join produced no rows"
    for r in j:
        assert r["g1"] == r["e1"]
        assert r["g2"] == r["e2"]  # salt-FIRST form
        assert r["g2"] != r["chained"]  # NOT the g1-dependent form


@pytest.mark.slow
def test_repeated_span_profile_auto_skew_switch(spark):
    """VERDICT r12 item 3: the window→groupBy skew fallback is code, not
    comment, and each regime is chosen from the input alone. A corpus
    where ONE gram holds >10% of positions must plan the groupBy+join-back
    regime (observable in the plan: a join appears, the group-key Window
    disappears); a uniform corpus plans the window count; and BOTH regimes
    emit exactly the per-doc profile a plain Python count gives, so the
    switch can never change results."""
    from pyspark.sql import functions as F

    from scraper_db_refine_merge_spark.operators.substr import (
        repeated_span_profile,
    )

    L = 8
    hot = "A" * 40  # every position shares one gram ("AAAAAAAA")
    docs = [(0, hot)] + [
        (i, "".join(chr(97 + (i * 31 + j * 7) % 26) for j in range(40)))
        for i in range(1, 8)
    ]
    skewed = spark.createDataFrame(docs, "doc_id long, text string")
    flat = spark.createDataFrame(docs[1:], "doc_id long, text string")

    def _profile(rows):
        grams = {d: [t[i : i + L] for i in range(len(t) - L + 1)] for d, t in rows}
        occ = collections.Counter(g for gs in grams.values() for g in gs)
        return sorted(
            (d, len(gs), sum(occ[g] > 1 for g in gs), max(occ[g] for g in gs))
            for d, gs in grams.items()
        )

    gb = repeated_span_profile(skewed, "doc_id", "text", L)
    plan = gb._jdf.queryExecution().executedPlan().toString().lower()
    assert "count(1) windowspecdefinition" not in plan and "join" in plan
    w = repeated_span_profile(flat, "doc_id", "text", L)
    assert "windowspecdefinition" in w._jdf.queryExecution().executedPlan().toString().lower()

    assert sorted(map(tuple, gb.collect())) == _profile(docs)
    assert sorted(map(tuple, w.collect())) == _profile(docs[1:])
    rows = {r["doc"]: r for r in gb.collect()}
    assert rows[0]["max_occ"] == 33  # the hot doc: 33 positions, one gram
