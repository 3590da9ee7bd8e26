"""Bloom-filter semi-join pruning (operators/bloom.py).

The filter is a pure performance device: pruned_left_anti must be
row-for-row identical to the plain left-anti join, and the probe must have
zero false negatives (every built key probes True). One plan-shape check
asserts the bypass branch really avoids a join.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from scraper_db_refine_merge_spark.operators.bloom import (
    bloom_build,
    bloom_might_contain,
    pruned_left_anti,
)

BITS = 1 << 14  # small filter → measurable fp rate, still zero fn
HASHES = 5


def _rows(df, cols):
    rows = [tuple(r) for r in df.select(*cols).collect()]
    return sorted(rows, key=lambda t: tuple((x is None, str(x)) for x in t))


def test_probe_has_no_false_negatives(spark):
    keys = spark.range(500).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
    bf = bloom_build(keys, ["k"], BITS, HASHES)
    probed = keys.crossJoin(F.broadcast(bf)).select(
        bloom_might_contain(["k"], F.col("__bf_words"), BITS, HASHES).alias("hit")
    )
    assert probed.filter(~F.col("hit")).count() == 0


def test_pruned_anti_join_matches_plain_anti_join(spark):
    # overlapping ranges + composite key + NULL key components on both sides
    target = spark.createDataFrame(
        [(str(i), i % 7, float(i)) for i in range(400)]
        + [(None, 1, -1.0), ("3", None, -2.0), (None, None, -3.0)],
        "a string, b int, v double",
    )
    batch = spark.createDataFrame(
        [(str(i), i % 7) for i in range(300, 600)] + [(None, 1), ("5", None)],
        "a string, b int",
    )
    expected = target.join(batch, ["a", "b"], "left_anti")
    got = pruned_left_anti(target, batch, ["a", "b"], BITS, HASHES)
    assert _rows(got, ["a", "b", "v"]) == _rows(expected, ["a", "b", "v"])


def test_pruned_anti_join_empty_batch_keeps_everything(spark):
    target = spark.createDataFrame([("x", 1.0), ("y", 2.0)], "k string, v double")
    batch = spark.createDataFrame([], "k string")
    got = pruned_left_anti(target, batch, ["k"], BITS, HASHES)
    assert _rows(got, ["k", "v"]) == _rows(target, ["k", "v"])


def test_definite_branch_bypasses_the_join(spark):
    """The union's first branch must contain no key-equality join — only the
    bloom-positive branch pays one. (The broadcast of the 1-row filter shows
    up as a BroadcastNestedLoopJoin; the key join is a HashJoin/SortMergeJoin
    per branch, so the pruned plan has exactly one of those per side.)"""
    target = spark.createDataFrame([(str(i),) for i in range(50)], "k string")
    batch = spark.createDataFrame([("1",), ("2",)], "k string")
    plan = pruned_left_anti(target, batch, ["k"], BITS, HASHES)._jdf.queryExecution().executedPlan().toString()
    anti_joins = plan.count("LeftAnti")
    assert anti_joins == 1, plan


def test_auto_num_bits_scales_with_batch_and_stays_exact(spark):
    """r16: num_bits="auto" sizes the filter from the batch count (floor
    2^16, ~16 bits/key, power of two) and the auto-sized pruned anti-join
    stays row-identical to the plain anti-join."""
    from scraper_db_refine_merge_spark.operators.bloom import (
        _AUTO_MAX_BITS,
        _AUTO_MIN_BITS,
        resolve_num_bits,
    )

    small = spark.range(100).select(F.col("id").alias("k"))
    big = spark.range(50_000).select(F.col("id").alias("k"))
    assert resolve_num_bits(small, "auto") == _AUTO_MIN_BITS
    nb = resolve_num_bits(big, "auto")
    assert nb >= 50_000 * 16 and nb & (nb - 1) == 0 and nb <= _AUTO_MAX_BITS
    assert resolve_num_bits(small, 1 << 20) == 1 << 20  # explicit passthrough

    target = spark.range(2_000).select(F.col("id").alias("k"))
    batch = spark.range(0, 2_000, 3).select(F.col("id").alias("k"))
    got = pruned_left_anti(target, batch, ["k"])  # default num_bits="auto"
    want = target.join(batch, ["k"], "left_anti")
    assert _rows(got, ["k"]) == _rows(want, ["k"])


def test_probe_derives_size_from_words_when_not_given(spark):
    """ADVICE r16: a standalone probe without an explicit num_bits derives
    the size from the broadcast words array (size*64), so it can never
    silently probe an auto-built filter at the wrong size (which produces
    false negatives). Zero false negatives at a non-default build size."""
    keys = spark.range(500).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
    bf = bloom_build(keys, ["k"], 1 << 16, HASHES)  # != DEFAULT_NUM_BITS
    probed = keys.crossJoin(F.broadcast(bf)).select(
        bloom_might_contain(["k"], F.col("__bf_words"), num_hashes=HASHES).alias("hit")
    )
    assert probed.filter(~F.col("hit")).count() == 0
    # derived-size probe is expression-identical to the explicit-size probe
    explicit = keys.crossJoin(F.broadcast(bf)).select(
        bloom_might_contain(["k"], F.col("__bf_words"), 1 << 16, HASHES).alias("hit")
    )
    assert probed.exceptAll(explicit).count() == 0


def test_derived_size_probe_is_false_not_null_on_null_words(spark):
    """ADVICE r17: size(NULL) is NULL under ANSI, so the derived-size probe
    went NULL for a NULL words array; the docstring promises never NULL,
    which is what makes ``filter(~probe)`` safe."""
    rows = spark.createDataFrame([("a", None), ("b", [0, 0])], "k string, w array<bigint>")
    got = rows.select(
        "k", bloom_might_contain(["k"], F.col("w"), num_hashes=HASHES).alias("hit")
    ).collect()
    assert sorted((r["k"], r["hit"]) for r in got) == [("a", False), ("b", False)]


def test_resolve_num_bits_memo_starts_no_second_job(spark):
    """ADVICE r16: identical batch LINEAGE resolves without a second count
    job (semantic-hash memo — fresh select() objects per call, as
    merge_upsert builds them)."""
    from scraper_db_refine_merge_spark.operators.bloom import resolve_num_bits

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "test_resolve_num_bits_memo"
    base = spark.range(70_013).select(F.col("id").alias("k"))
    sc.setJobGroup(group, "bloom sizing memo")
    try:
        a = resolve_num_bits(base.select("k"), "auto")
        first_jobs = set(tracker.getJobIdsForGroup(group))
        # fresh, semantically identical frame: must hit the memo
        b = resolve_num_bits(base.select("k"), "auto")
        second_jobs = set(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert first_jobs  # the first call sized the batch with a count job
    assert second_jobs == first_jobs
    assert a == b
