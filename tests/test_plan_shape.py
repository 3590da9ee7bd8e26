"""Physical-plan regression tests: the scale properties the engine is
designed around (broadcasts, pushdown, pruning, shuffle counts) asserted on
the actual executed plans, so a future edit that silently degrades a plan —
a lost broadcast, a filter that stops pushing, an extra shuffle — fails CI
rather than only showing up at cluster scale.
"""

from __future__ import annotations

import re

from scraper_db_refine_merge_spark.operators import dedup as dd
from scraper_db_refine_merge_spark.plans.catalog import QUERIES
from scraper_db_refine_merge_spark.sources.tables import load_table


def _plan(df) -> str:
    # a longer PushedFilters list (ts now pushes too) overflows the default
    # 100-char FileScan metadata truncation and elides filters with "..."
    df.sparkSession.conf.set("spark.sql.maxMetadataStringLength", "2000")
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_partial_agg_single_shuffle_pruned_scan(spark, sf_dir):
    p = _plan(QUERIES["q01_pricing_summary"](spark, sf_dir))
    # map-side partial aggregation + one shuffle to the final aggregate
    assert p.count("HashAggregate") == 2
    assert p.count("Exchange") == 1
    # column pruning reached the scan: 6 needed columns, not all 16
    scan = next(ln for ln in p.splitlines() if "FileScan" in ln)
    cols = re.search(r"FileScan parquet \[([^\]]*)\]", scan).group(1)
    assert len(cols.split(",")) == 6, cols
    assert "l_comment" not in cols


def test_q04_star_join_no_forced_sf_growing_broadcast(spark, sf_dir):
    """`customer` grows linearly with SF — multi-TB at the 100 TB design
    point — so the star join may NOT pin it with a forced broadcast hint
    (VERDICT r5 item 1). Constant-size nation/region keep their hints; AQE
    remains free to broadcast customer at runtime while it measures small,
    which it does at this SF (asserted on the finalized adaptive plan)."""
    df = QUERIES["q04_region_revenue"](spark, sf_dir)
    an = _analyzed(df)
    # exactly the two constant-size dims carry hints; customer carries none
    assert an.count("strategy=broadcast") == 2, an
    p = _final_adaptive_plan(df)
    # at sf0.01/0.1 AQE still broadcasts every dim edge — same runtime shape
    assert p.count("BroadcastHashJoin") >= 4, p
    assert "CartesianProduct" not in p


def test_q02_q100_no_forced_customer_broadcast(spark, sf_dir):
    """Same principle for the other two star rollups: only nation(+region)
    hinted, customer hint-free."""
    assert _analyzed(QUERIES["q02_nation_revenue"](spark, sf_dir)).count("strategy=broadcast") == 1
    assert _analyzed(QUERIES["q100_region_market_share"](spark, sf_dir)).count("strategy=broadcast") == 2


def test_q20_filters_push_to_parquet(spark, sf_dir):
    p = _plan(QUERIES["q20_api_events_listing"](spark, sf_dir))
    pushed = re.search(r"PushedFilters: \[[^\]]*", p).group(0)
    assert "GreaterThanOrEqual(value,50.0)" in pushed
    assert "In(event_type" in pushed
    # the ingest normalization (normalize_events: NANOS→MICROS rewrite)
    # makes ts a native timestamp column, so the window bound pushes too —
    # previously timestamp_micros(raw_ns) blocked it (r1 VERDICT item 4)
    assert "GreaterThanOrEqual(ts," in pushed, pushed


def test_events_ts_predicate_pushes_after_normalization(spark, sf_dir):
    """normalize_events rewrites TIMESTAMP(NANOS) → MICROS once; a ts range
    predicate on the normalized scan must reach PushedFilters (row-group
    stats skipping — at scale the difference between a day and a year)."""
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "events")
    assert dict(e.dtypes)["ts"] == "timestamp"
    win = e.filter(
        (F.col("ts") >= F.lit("2024-01-10").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-12").cast("timestamp"))
    )
    p = _plan(win)
    pushed = re.search(r"PushedFilters: \[[^\]]*", p).group(0)
    assert "GreaterThanOrEqual(ts," in pushed, pushed
    assert "LessThan(ts," in pushed, pushed


def test_word_shingles_is_shuffle_free(spark, sf_dir, tmp_path):
    """r17 contract: the shingle generator stays a narrow map (zero
    exchanges) on SPLIT inputs — the 100 TB shape, where the
    degenerate-scan gate no-ops. On a degenerate (single-row-group) scan
    the gate fires and the plan carries exactly ONE exchange: the
    deterministic id-keyed spread (guide §2.5), never anything else."""
    docs = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism

    # split layout (≥ cores/4 files): gate no-ops, operator is shuffle-free
    split_dir = str(tmp_path / "docs_split")
    # range bounds are sampled from the ids, so every partition gets rows
    # and becomes a file; a hash repartition can leave some empty
    docs.repartitionByRange(max(2, n // 2), "doc_id").write.parquet(split_dir)
    split = spark.read.parquet(split_dir)
    assert split.rdd.getNumPartitions() >= max(2, n // 4), "split input too few scan tasks"
    assert _plan(dd.word_shingles(split, "doc_id", "text")).count("Exchange") == 0

    # degenerate single-task scan: exactly the one gated spread exchange
    p = _plan(dd.word_shingles(docs, "doc_id", "text"))
    assert p.count("Exchange") == 1
    assert "REPARTITION_BY_NUM" in p


def test_partitioned_events_prune_partitions(spark, sf_dir, tmp_path):
    """The production layout claim: events partitioned by event date give
    partition pruning for start-date range predicates (the reference's
    datetime.start_date index, SURVEY §4)."""
    from pyspark.sql import functions as F

    target = str(tmp_path / "events_part")
    e = load_table(spark, sf_dir, "events")
    e.withColumn("event_date", F.to_date("ts")).write.partitionBy("event_date").parquet(target)

    part = spark.read.parquet(target).filter(
        (F.col("event_date") >= "2024-01-10") & (F.col("event_date") < "2024-01-12")
    )
    p = _plan(part)
    pf = next(ln for ln in p.splitlines() if "PartitionFilters" in ln)
    assert "event_date" in pf.split("PartitionFilters")[1][:200]
    # pruned scan reads only the two matching date partitions
    n_total_parts = spark.read.parquet(target).select("event_date").distinct().count()
    assert part.select("event_date").distinct().count() <= 2 < n_total_parts


def test_bucketed_tables_join_without_shuffle(spark, sf_dir, tmp_path):
    """Bucketing demo (SURVEY §4: bucketBy(event_id) ≈ the reference's
    unique event_id index): two tables bucketed on the join key sort-merge
    join with ZERO exchanges — the co-located join that makes repeated
    MERGE/canonicalization key-joins shuffle-free at any scale."""
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "events")
    for name in ("bk_events_a", "bk_events_b"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            e.write.bucketBy(8, "event_id")
            .sortBy("event_id")
            .option("path", str(tmp_path / name))
            .saveAsTable(name)
        )
    # disable broadcast so the join exercises the bucketed sort-merge path
    # (at real scale neither side would be broadcastable anyway)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.table("bk_events_a")
        b = spark.table("bk_events_b").select("event_id", F.col("value").alias("value_b"))
        joined = a.join(b, "event_id")
        p = _plan(joined)
        assert "SortMergeJoin" in p
        assert p.count("Exchange") == 0, p
        assert joined.count() == e.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for name in ("bk_events_a", "bk_events_b"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_q58_asof_single_shuffle_no_nested_loop(spark, sf_dir):
    """The union-and-window as-of form: ONE hash shuffle (the key), one
    sort, and no BroadcastNestedLoop/Cartesian — the naive range-join
    form would plan a BNLJ that explodes at scale."""
    p = _plan(QUERIES["q58_asof_attribution"](spark, sf_dir))
    assert p.count("Exchange hashpartitioning") == 1
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p


def test_q59_interval_join_is_equi(spark, sf_dir):
    """The bucketed interval join must plan as a hash/sort-merge EQUI join
    on (key, bucket) — never a nested-loop over the range predicate."""
    p = _plan(QUERIES["q59_signup_click_window"](spark, sf_dir))
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p)


def test_q42_block_grid_no_driver_collect_shape(spark, sf_dir):
    """Distributed exact near-dup: cogrouped Arrow exchange, and the only
    wide exchanges are the two cogroup-side hash partitionings."""
    p = _plan(QUERIES["q42_embedding_near_dup"](spark, sf_dir))
    assert "FlatMapCoGroupsInPandas" in p
    assert p.count("Exchange hashpartitioning") == 2


def test_q75_hll_registers_two_phase_agg_pruned_scan(spark, sf_dir):
    """The HLL sketch build must be one partial-aggregated shuffle (state
    per map task is groups×m registers) over a 2-column pruned scan."""
    p = _plan(QUERIES["q75_hll_registers"](spark, sf_dir))
    assert p.count("HashAggregate") == 2
    assert p.count("Exchange hashpartitioning") == 1
    scan = next(ln for ln in p.splitlines() if "FileScan" in ln)
    assert "event_type" in scan and "user_id" in scan
    assert "props" not in scan  # column pruning reached the scan


def test_q67_bigram_agg_is_partial_no_cartesian(spark, sf_dir):
    """Repetition filters: per-row stats stay narrow; the bigram explode
    partial-aggregates before both shuffles; nothing goes nested-loop."""
    p = _plan(QUERIES["q67_repetition_filters"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("HashAggregate") >= 4  # two 2-phase aggregates


def test_bloom_build_partial_aggregates(spark):
    """The filter build must partial-aggregate bit_or map-side — the
    shuffle carries at most m/64 words per map task, not n·k positions."""
    from pyspark.sql import functions as F

    from scraper_db_refine_merge_spark.operators.bloom import bloom_build

    keys = spark.range(100).select(F.col("id").cast("string").alias("k"))
    p = _plan(bloom_build(keys, ["k"], num_bits=1 << 14))
    # two 2-phase aggregates (bit_or per word, then the 1-row assembly);
    # the partial side of each runs before its Exchange
    assert p.count("HashAggregate") >= 3
    assert p.count("Exchange hashpartitioning") == 1


def test_q84_scd2_single_user_exchange(spark, sf_dir):
    """SCD2 island detection: the lag window, the running version sum, the
    collapse aggregation, and the lead() that closes intervals all key on
    user_id — the plan must reuse ONE user_id hash exchange, not shuffle
    per step."""
    p = _plan(QUERIES["q84_scd2_history"](spark, sf_dir))
    assert p.count("Exchange hashpartitioning") == 1, p


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _final_adaptive_plan(df) -> str:
    """Execute the frame and return the AQE-finalized physical plan."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_q85_funnel_no_forced_user_broadcast(spark, sf_dir):
    """Funnel stage state is one row PER USER — corpus-growing, so a forced
    broadcast hint is an eventual OOM at scale (VERDICT r4 item 2). The plan
    must carry NO broadcast hints; AQE is free to broadcast at runtime while
    the stage tables are genuinely small (asserted on the finalized adaptive
    plan at this SF)."""
    df = QUERIES["q85_funnel_steps"](spark, sf_dir)
    assert "strategy=broadcast" not in _analyzed(df)
    p = _final_adaptive_plan(df)
    assert "BroadcastHashJoin" in p  # AQE converted the small stage joins


def test_q86_cohorts_no_forced_user_broadcast(spark, sf_dir):
    """First-touch per user is user-count-sized (grows with the corpus): no
    forced broadcast; AQE converts at runtime while it fits."""
    df = QUERIES["q86_retention_cohorts"](spark, sf_dir)
    assert "strategy=broadcast" not in _analyzed(df)
    p = _final_adaptive_plan(df)
    assert "BroadcastHashJoin" in p


def test_neardup_verify_no_unbounded_broadcast(spark, sf_dir):
    """The near-dup verify joins (per-doc sizes, candidate id sets, shingle
    sides) all touch relations whose size grows with the corpus — NONE may
    carry a forced broadcast hint (VERDICT r4 item 1). AQE picks broadcast
    at runtime only while the relation is actually small."""
    from scraper_db_refine_merge_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    for df in (
        dd.jaccard_pairs(d, "doc_id", "text", k=5, threshold=0.2),
        dd.minhash_dedup_pairs(d, "doc_id", "text", k=5, threshold=0.2),
    ):
        assert "strategy=broadcast" not in _analyzed(df)


def test_q55_lsh_near_dup_no_pair_explosion(spark, sf_dir):
    """The LSH near-dup pipeline must stay equi-join shaped: candidate
    generation is a bucket-signature join over the persisted index
    (InMemoryTableScan), never a cartesian / nested-loop pair explosion."""
    p = _plan(QUERIES["q55_lsh_near_dup"](spark, sf_dir))
    assert p.count("CartesianProduct") == 0
    assert p.count("BroadcastNestedLoopJoin") == 0
    assert p.count("InMemoryTableScan") >= 1  # the persisted bucket index


def test_q25_minhash_verify_is_candidate_restricted(spark, sf_dir):
    """The Jaccard verify stage must be candidate-restricted in the PLAN:
    the raw docs semi-join the candidate id set BEFORE the tokenize+explode
    (one restricted pass feeds both pair-join sides), so the verify shuffle
    is O(candidate shingles), not O(corpus shingles)."""
    p = _plan(QUERIES["q25_minhash_lsh_pairs"](spark, sf_dir))
    assert p.count("LeftSemi") >= 1, p
    assert p.count("CartesianProduct") == 0


def test_q126_lm_score_no_hints_no_cartesian_on_data(spark, sf_dir):
    """The LM count tables are vocabulary-sized (corpus-growing) — no
    forced broadcast hints anywhere except none at all here: the only
    1-row side (the V constant) joins via crossJoin, which is fine.
    Aggregations must be two-phase (partial before exchange)."""
    df = QUERIES["q126_bigram_lm_score"](spark, sf_dir)
    assert "strategy=broadcast" not in _analyzed(df)
    p = _plan(df)
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 4  # c12/c1/per-doc all partial+final


def test_q128_dsir_hints_only_config_bounded(spark, sf_dir):
    """DSIR may hint exactly its two config/1-row bounded relations (the
    totals scalar and the B-row bucket LUT) — never the token stream."""
    df = QUERIES["q128_dsir_weights"](spark, sf_dir)
    assert _analyzed(df).count("strategy=broadcast") == 2


def test_q127_pq_hints_only_codebook_and_lut(spark, sf_dir):
    """PQ's forced broadcasts are the config-constant codebook (m·k rows,
    in the LUT build only — encode consumes the codebook inside the r12
    mapInPandas kernel, no join at all) and the query-batch-bounded LUT —
    two hints total, none on the corpus side. The corpus reaches the
    scored join through MapInPandas, never a shuffle."""
    df = QUERIES["q127_pq_adc_topk"](spark, sf_dir)
    assert _analyzed(df).count("strategy=broadcast") == 2
    p = _plan(df)
    assert "CartesianProduct" not in p
    assert "MapInPandas" in p


def test_q124_longest_run_semi_anti_restricted(spark, sf_dir):
    """The longest-run join must split train/eval via semi/anti joins on
    the (small-by-nature, but unhinted) eval id set and never go
    nested-loop on the window-hash equi-join."""
    df = QUERIES["q124_longest_shared_run"](spark, sf_dir)
    assert "strategy=broadcast" not in _analyzed(df)
    p = _plan(df)
    assert "CartesianProduct" not in p
    assert "LeftSemi" in p and "LeftAnti" in p
