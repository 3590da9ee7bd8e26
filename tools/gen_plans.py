"""Generate PLANS_r{N}.md: the committed physical-plan audit for the
headline bench set, the r4 weak set, and the round's new queries.

Usage: PYTHONPATH=. python tools/gen_plans.py > PLANS_rNN.md  # or edit OUT

Plan SHAPE is SF-independent (AQE re-plans sizes at runtime), so plans are
taken at sf0.001. Review checklist per plan: PushedFilters/ReadSchema on
scans, BroadcastHashJoin only where AQE chose it (no forced hints on
corpus-growing relations), partial HashAggregates before exchanges, no
CartesianProduct/BNLJ outside deliberate broadcast probe sets.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NAMES = [
    "q01_pricing_summary", "q04_region_revenue", "q08_latest_event_per_user",
    "q12_daily_event_counts", "q16_props_json_decode", "q21_text_search",
    "q22_doc_text_stats", "q23_exact_dedup", "q25_minhash_lsh_pairs",
    "q28_cosine_topk", "q55_lsh_near_dup", "q47_train_val_test_split",
    "q24_ngram_jaccard_pairs", "q73_dup_clusters", "q85_funnel_steps",
    "q86_retention_cohorts", "q103_window_decontaminate",
    "q105_capped_jaccard_pairs", "q106_qdigest_sketch", "q109_dedup_pipeline",
    "q111_ranking_family", "q112_cube_grouping_id", "q114_token_stats",
    "q115_stratified_weighted_sample", "q117_neardup_triangles",
    "q118_ordered_funnel", "q119_top_event_paths", "q120_equidepth_bins",
    "q121_kmv_set_ops", "q122_session_paths",
    # r6 additions: the star rollups whose customer hint was dropped, the
    # skew-hardened sessionization, the longest-run decontamination, and
    # the distributed ranking family
    "q02_nation_revenue", "q100_region_market_share", "q09_user_spend_rank",
    "q123_skewed_sessionization", "q124_longest_shared_run",
    "q125_skewed_latest_per_key", "q74_kmv_distinct",
    "q126_bigram_lm_score", "q127_pq_adc_topk", "q128_dsir_weights",
    "q130_ivf_pq_topk", "q131_incremental_pq_codes", "q132_dsir_selection",
    # r7 additions: block-split ordered paths/funnels, trained PQ, LM drift,
    # DSIR×stratified, SemDeDup, source mixing, distributed prefix sum
    "q133_trained_pq_adc", "q134_skewed_session_paths",
    "q135_skewed_ordered_funnel", "q136_lm_index_drift",
    "q137_dsir_stratified_selection", "q138_semantic_dedup",
    "q139_source_mix", "q140_curriculum_schedule",
    "q141_incremental_semantic_index",
    # r8 additions: the substring (char-level) dedup family and the
    # skew-hardened defaults that replaced the plain-window q118/q119/q122
    "q152_substring_decontamination", "q153_repeated_substrings",
    "q154_redact_repeated_spans", "q155_strided_decontamination",
    "q156_duplication_length_profile", "q157_corpus_build",
    # r10 addition: IVF-PQ with the Lloyd-trained residual codebook
    "q158_ivf_pq_trained",
    # r12 additions: the EXT-timed-set newcomers (q53 after its
    # analysis-blowup fix, q150 after the moment-identity rewrite), the
    # kmeans chain whose assignment became a map pass, and the DQ rollup
    # after the expr-string registry conversion
    "q53_quality_overall", "q150_cluster_medoids", "q51_kmeans_cells",
    "q56_dq_rollup",
    # r12 late additions: the IVF/PQ kernel rewrites and the
    # iterative-graph materialization fixes
    "q43_ivf_topk", "q98_pagerank_fixed_point", "q147_leakage_free_split",
    # r13 additions: the output-capped near-dup emitters (per-bucket
    # successor windows) — q43/q138/q141/q153 above also changed shape
    # this round (expression probes, per-cell Arrow election, auto skew
    # regime)
    "q159_minhash_capped_pairs", "q160_cosine_lsh_capped_pairs",
    # r14 additions: the per-doc top-k emitter cap and the fold-index
    # queries after compaction landed in their read path — q159/q160 above
    # changed shape this round too (corpus-adaptive width, stride-24
    # planes)
    "q161_neardup_topk_per_doc", "q113_incremental_minhash_index",
    "q129_incremental_lm_index",
    # r15 additions: contamination reindex + manifest-layout merge gates,
    # and the weighted inverse-CDF samplers (one prefix-sum + bucketed
    # probe join; the cumsum subtree is persisted once)
    "q162_contamination_reindex", "q163_partitioned_merge_manifest",
    "q164_weighted_sample", "q165_weighted_sample_stratified",
    # r16 addition: weighted WOR (first-k-distinct probe stream — the
    # selection must be TakeOrderedAndProject, never a global sort)
    "q166_weighted_sample_without_replacement",
]


def main() -> None:
    from scraper_db_refine_merge_spark.plans.catalog import QUERIES
    from scraper_db_refine_merge_spark.session import get_spark

    spark = get_spark("plans")
    spark.conf.set("spark.sql.maxMetadataStringLength", "500")
    doc = "\n".join(
        ln for ln in __doc__.strip().splitlines() if not ln.startswith("Usage:")
    )
    print(doc.replace("Generate PLANS_r{N}.md: the", "# Physical-plan audit — the"))
    print(
        "\nDeliberate 1-row-side crossJoins (q85/q117/q120/q121 final"
        "\naggregate assembly, cosine-topk broadcast probe set) are the only"
        "\nexpected BroadcastNestedLoop/Cartesian sites."
    )
    print(
        "\nRound-16 notes (optimization round; ROADMAP 16a-16h,"
        "\nOPTIMIZATION_r16.md for measurements):"
        "\n- q08/q125: W3 latest-wins is ONE max_by AGGREGATION"
        "\n  (partial SortAggregate -> Exchange -> SortAggregate; the"
        "\n  Window/WindowGroupLimit and the q125 two-phase salt are"
        "\n  gone — 4 Exchanges -> 2). Row-identity with both window"
        "\n  forms pinned in test_skew."
        "\n- q12/q119: internal day grouping keys are 4-byte DATEs;"
        "\n  date_format runs on aggregated rows only."
        "\n- q04: per-custkey partial sum on primitive BIGINT, exact"
        "\n  DECIMAL(38,0) kept for the cross-key re-sum."
        "\n- q55/q160: candidate-dedup exchange repartitioned at"
        "\n  defaultParallelism so the HOF verify stage inherits full"
        "\n  parallelism (AQE byte-coalescing shrank it to 1-2 tasks)."
        "\n- q21: Filter predicate is Contains (allocation-free);"
        "\n  replace-based counts only in the Project."
        "\n- q82/merge: bloom dense assembly is a range-join gather"
        "\n  (2 extra tiny Exchanges replace an O(nwords x set-bits)"
        "\n  single-task transform); num_bits sizes from the batch."
        "\n- q105/capped minhash: the shingle cap anti-joins the HOT"
        "\n  set (AQE-broadcastable) instead of inner-joining the full"
        "\n  freq table."
        "\n- q166 (added pre-interrupt this round): weighted sampling"
        "\n  WITHOUT replacement — TakeOrderedAndProject selection,"
        "\n  broadcast probe sides, same prefix-sum skeleton as q164."
    )
    print(
        "\nRound-15 notes (see ROADMAP 15a-15k):"
        "\n- every reference .strip() mirror now uses the FULL Python"
        "\n  whitespace class (strings.python_strip / PY_WS_RE2 — \\x85 was"
        "\n  missing from \\p{Z}); plans are unchanged in shape, only the"
        "\n  regex literals inside string expressions widened."
        "\n- q162 (contamination reindex) and q163 (partitioned merge)"
        "\n  execute store folds/commits at PLAN BUILD time like the other"
        "\n  fold gates — their printed plans are the final read."
        "\n- q164/q165 (weighted sampling): ONE range-partitioned prefix"
        "\n  sum (persisted once — probe and interval sides share it), the"
        "\n  1-row total / per-stratum totals and k-row probe frames are"
        "\n  the only broadcast sides, and the probe join is a bucketed"
        "\n  equi-join (no n x k nested loop). Integer DIV throughout."
        "\n- cosine_near_dup_pairs num_tables='auto' resolves at plan build"
        "\n  from the memoized corpus count (base 4 at the occupancy-pinned"
        "\n  width, so harness plans are unchanged)."
    )
    print(
        "\nRound-14 notes (the round's reworks; see ROADMAP 14a-14i for the"
        "\nfull record):"
        "\n- q159/q160/q161 run CORPUS-ADAPTIVE signature widths"
        "\n  (num_planes='auto' / band_size='auto'): the width is resolved"
        "\n  from a memoized corpus count at plan build (one count job per"
        "\n  frame per session), so the PLAN SHAPE is unchanged — only the"
        "\n  bucket projection's literal plane count grows log2-style with"
        "\n  the corpus (stride-24 plane indexing keeps p-bit signatures"
        "\n  prefixes of the 24-bit ones; the static q160 oracle mirrors"
        "\n  the count-dependent width with an integer CASE ladder +"
        "\n  dynamic nested-lambda bucket loop). RECALL_r14 auto rung:"
        "\n  cluster agreement 10000 bp at all three SFs, no manual tuning"
        "\n  (static p=6 at sf0.1 measured 8750 bp in r13)."
        "\n- PROBE_EXPR_MAX_CELLS 256 -> 32 (measured crossover,"
        "\n  tools/measure_probe_crossover.py): the probe expression's k^2"
        "\n  nested filters are NOT subexpression-eliminated by Catalyst"
        "\n  (25.8x the window plan at 256 cells) — >32-cell tables now"
        "\n  take the crossJoin+window fallback they should."
        "\n- q113/q129/q131/q141 COMPACT their fold store before the final"
        "\n  read (store_compact: one part per table behind one commit-log"
        "\n  entry) — the oracle gate now proves compaction is"
        "\n  read-identical every round; read cost no longer grows with"
        "\n  fold count."
    )
    print(
        "\nRound-13 notes (the round's reworks; see ROADMAP 13a-13j for the"
        "\nfull record):"
        "\n- semantic_dedup / fold_semantic_index (q138/q141): the"
        "\n  within-cell election is ONE cogrouped Arrow kernel per"
        "\n  cell (groupBy(cell).cogroup(...).applyInPandas) — the replaced cell"
        "\n  equi-join materialized cell^2 pair ROWS (each carrying two"
        "\n  full vectors) through the exchange and paid the interpreted"
        "\n  HOF cosine per pair. Kernel = sequential-dim accumulation,"
        "\n  a-axis-chunked tiles (bounded task memory on skewed cells);"
        "\n  oracle hashes unchanged. 10x smoke 6.6x -> 2.6x."
        "\n- probe_cells (q43/q130/q158 chain): label_centroids is now a"
        "\n  LITERAL LocalTableScan (collect-once per corpus frame, the"
        "\n  _literal_codebook pattern) — as a lazy plan every EXEC re-ran"
        "\n  the corpus-wide centroid aggregation inside the probes"
        "\n  broadcast subtree. Probe selection for <=256-cell tables is a"
        "\n  PURE PROJECTION over the query scan (generated-SQL array"
        "\n  literal + rank-via-count, exact row_number parity incl."
        "\n  NaN-greatest/NULLS-LAST ordering; selection Column memoized"
        "\n  per centroid table); crossJoin+window stays as the large-k"
        "\n  fallback. q43 1.64 -> ~0.9 s bench warm; 10x corpus = 1.06x."
        "\n- q153: the window-vs-groupBy skew ceiling is CODE now"
        "\n  (repeated_span_profile): a 1%-sample probe (escalating to"
        "\n  exact when the sample cannot resolve the threshold, memoized"
        "\n  per corpus) switches the per-group count to groupBy+join-back"
        "\n  (map-side combined, AQE skew-splittable) when one gram holds"
        "\n  >10% of positions. Regimes emit identical rows."
        "\n- q159/q160 (NEW, oracle-gated): output-capped near-dup"
        "\n  emitters — per-bucket m-successor candidate windows bound a"
        "\n  c-clique at c*m chain pairs vs c^2/2 (300-clique test: 44,850"
        "\n  uncapped candidates vs <=3,600 capped, identical CC clusters);"
        "\n  caps mirrored in SQL as ROW_NUMBER difference bounds."
        "\n- Degenerate-vector hardening (ADVICE r12): null-element pairs"
        "\n  flagged JVM-side before the Arrow boundary (NaN-coercion made"
        "\n  corrupted vectors rank-1 under NaN-greatest DESC); PQ kernels"
        "\n  NaN-pad NULL/short/long vectors (pre-kernel null-propagation"
        "\n  parity) and training fails loudly; persist lifecycles under"
        "\n  try/finally or tracked."
        "\n- connected_components skips the round-1 convergence count"
        "\n  (one job per CC build across the dup-cluster/fold family)."
    )
    print(
        "\nRound-12 notes (catalog-wide build census, tools/census_builds.py"
        "\nover all 144 batch queries at sf0.1, + the round's reworks):"
        "\n- q150: per-cell medoids via the exact-integer MOMENT IDENTITY"
        "\n  (components quantized floor(x*1e4) first, so sum_b ||a-b||^2 ="
        "\n  n*||a||^2 + sum||b||^2 - 2*a*sum(b) holds with no rounding):"
        "\n  Spark side is ONE linear pass over members (posexplode +"
        "\n  groupBy moments, broadcast join back), the oracle keeps the"
        "\n  explicit quadratic pair join — hash equality proves the"
        "\n  identity. 8.5 s -> 0.73 s at sf0.1 (19x -> 1.79x)."
        "\n- ivf_assign (q43/q51/q130/q131/q133/q138/q141/q150/q158 chain):"
        "\n  was crossJoin x cells + window PARTITION BY vector id — a"
        "\n  k-times-corpus SHUFFLE per assignment pass; now a zero-shuffle"
        "\n  Arrow mapInPandas kernel over the driver-collected centroid"
        "\n  table (k rows, broadcast-sized by construction) with the"
        "\n  brute-force parity conventions (sequential-dim accumulation,"
        "\n  half-away rounding, NaN-greatest argmax). Interpreted JVM HOF"
        "\n  fold measured ~180 ns/lambda eval (0.47 s/pass at sf0.1) —"
        "\n  the numpy kernel is ~15x faster. kmeans training memoized per"
        "\n  input frame (detect_fixed_dim precedent)."
        "\n- q56: the 32-rule DQ registry + unified fixture build converted"
        "\n  to SQL strings (1.73 -> 0.23 s build); rule_rollup total_events"
        "\n  now count(*) inside the aggregate (was a second corpus pass)."
        "\n- PQ family (q127/q130/q131/q133/q158): pq_encode was explode-to-m"
        "\n  + broadcast-codebook join + window PARTITION BY (vector,"
        "\n  subspace) — a corpus x m*k-row EXCHANGE for a semantic map, on"
        "\n  the bulk pass of a 100-TB PQ pipeline. Now one zero-shuffle"
        "\n  mapInPandas kernel (collected config-constant codebook in the"
        "\n  closure); trained-codebook rounds use the same kernel emitting"
        "\n  the assigned subvector (no window, no join-back per Lloyd"
        "\n  round), the codebook is literal-ized per round (a lazy chain"
        "\n  re-executed round r-1 inside round r: O(iters^2)), and training"
        "\n  artifacts are memoized per input frame (train-once/"
        "\n  encode-forever is the operator's own deployment contract)."
        "\n  sf0.1 totals: q133 4.08 -> 0.85 s, q158 6.0 -> 1.42 s."
        "\n- ivf_topk probe scoring: interpreted HOF cosine per candidate"
        "\n  pair -> the vectorized pair kernel (one Arrow pass after the"
        "\n  broadcast probe join); label_centroids memoized per frame"
        "\n  (ivf_assign collects it — q43 build 0.71 -> 0.23 s)."
        "\n- Iterative-graph materialization order: connected_components"
        "\n  materialized labels BEFORE sym, executing the upstream edge"
        "\n  plan twice; pagerank_fixed_point left e/nodes/deg lazy so each"
        "\n  unrolled iteration could re-execute the edge construction."
        "\n  Both now take the _materialize cut once (q98 8.0 -> 3.9 s,"
        "\n  q73 3.3 -> 2.2 s); q147 persists its thrice-consumed pair set"
        "\n  (5.0 -> 1.7 s)."
        "\n- Census adjudication of the remaining >1 s BUILDS (post-rework"
        "\n  census, total build 73 -> 67 s over 144 queries): q141/q113/"
        "\n  q116/q110/q102 (5.9-7.9 s) are the incremental-store replay"
        "\n  harnesses — N batch folds x (CC rounds or index folds) x"
        "\n  (reliable checkpoint + convergence count + snapshot commit)"
        "\n  jobs, each a ~0.25 s local job floor; the folds ARE the"
        "\n  operator under test and commit I/O is O(batch) by design."
        "\n  q157/q98/q73/q136/q129/q131/q147/q109/q63/q146/q30/q156 embed"
        "\n  the same iterative/fold/training jobs one level down."
        "\n  q82's exec (2.0 s) is the bloom-prune two-pass contract:"
        "\n  definite/maybe branches re-scan the corpus rather than persist"
        "\n  it — the right trade at scale, where a second pushed-down scan"
        "\n  beats materializing a corpus-sized intermediate."
        "\n  No re-inlined constructed-struct (analysis-blowup) entry"
        "\n  remains: q53/q54 builds are 0.65 s, the refine family (q50/q52/"
        "\n  q57) is below the 0.3 s py4j floor line."
        "\n- q44: floor claim MEASURED (tools/measure_q44_floor.py): fixed"
        "\n  per-job floor 0.36 s = 73% of the 1x time, marginal 21 us/row"
        "\n  (Arrow round trip incl.), pure-Python kernel 12.5 us/row —"
        "\n  the 43x local ratio is floor + Python-lane overhead, not a"
        "\n  scale defect; kernel now hashes each blob once."
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in NAMES:
        df = QUERIES[name](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().explainString(mode)
        print(f"\n## {name}\n\n```\n{plan}\n```")


if __name__ == "__main__":
    main()
