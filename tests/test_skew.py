"""Salted operators must be result-identical to their unsalted forms."""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark.sql import Window
from scraper_db_refine_merge_spark.operators.skew import salted_join
from scraper_db_refine_merge_spark.sources.tables import load_table


def test_salted_join_equals_plain_join(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    # event_type is the archetypal hot key: tiny cardinality, huge rows-per-key
    dim = e.select("event_type").distinct().withColumn("type_tag", F.upper("event_type"))
    plain = e.join(dim, ["event_type"]).select("event_id", "type_tag")
    salted = salted_join(e, dim, on=["event_type"], n_salts=8, salt_from=["event_id"]).select(
        "event_id", "type_tag"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_rejects_outer_modes(spark):
    """right/full outer would surface unmatched replicated-side rows once
    per salt — the operator must refuse those modes."""
    import pytest

    a = spark.createDataFrame([(1, "x")], "k int, v string")
    b = spark.createDataFrame([(1, "y")], "k int, w string")
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(a, b, on=["k"], how=how, salt_from=["v"])


def test_sessionize_two_phase_equals_single_window(spark, sf_dir):
    """The two-phase (key, time-block) sessionization must equal the naive
    per-key lag window's (session_count, event_count) — for the default
    block and for a pathologically small block (forces boundary merges)."""
    from scraper_db_refine_merge_spark.operators.skew import sessionize_two_phase

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    naive = (
        e.withColumn(
            "s",
            F.when(prev.isNull() | (F.col("ts").cast("long") - prev.cast("long") > 1800), 1).otherwise(0),
        )
        .groupBy("user_id")
        .agg(F.sum("s").cast("long").alias("session_count"), F.count("*").alias("event_count"))
    )
    expected = sorted(map(tuple, naive.collect()))
    for block in (1800, 60):  # block << gap exercises the empty-block lag path
        got = sessionize_two_phase(
            e, ["user_id"], "ts", gap_sec=1800, block_sec=block, order_tiebreak=["event_id"]
        )
        assert sorted(map(tuple, got.collect())) == expected, block


def test_sessionize_two_phase_no_single_task_holds_hot_key(spark, sf_dir):
    """Skew guarantee (VERDICT r5 item 4): phase 1 partitions on
    (key, __block) — asserted in the executed plan — and the largest
    (key, block) group is a small fraction of the hot key's history, so no
    task ever sorts the hot user's full stream."""
    from scraper_db_refine_merge_spark.operators.skew import sessionize_two_phase

    e = load_table(spark, sf_dir, "events")
    skewed = e.withColumn(
        "user_id", F.when(F.col("event_id") % 2 == 0, F.lit(0)).otherwise(F.col("user_id"))
    ).select("user_id", "event_id", "ts")

    out = sessionize_two_phase(skewed, ["user_id"], "ts", gap_sec=1800, order_tiebreak=["event_id"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the expensive window (lag over raw events) keys on user_id AND __block
    assert "__block" in plan
    win_lines = [ln for ln in plan.splitlines() if "Window" in ln and "lag(ts" in ln]
    assert win_lines and all("__block" in ln for ln in win_lines), win_lines

    hot_total = skewed.filter(F.col("user_id") == 0).count()
    max_part = (
        skewed.withColumn("__block", F.floor(F.col("ts").cast("long") / 1800))
        .groupBy("user_id", "__block")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert hot_total > 300  # the fixture really is skewed
    assert max_part < hot_total * 0.2, (max_part, hot_total)


def test_session_paths_two_phase_equals_single_window(spark, sf_dir):
    """Block-split path collection must equal the naive per-key
    lag-window + collect form — default block and a pathologically small
    one (forces multi-block sessions through the stitch)."""
    from scraper_db_refine_merge_spark.operators.skew import session_paths_two_phase

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    ns = F.when(
        prev.isNull() | (F.col("ts").cast("long") - prev.cast("long") > 1800), 1
    ).otherwise(0)
    numbered = e.withColumn("ns", ns).withColumn(
        "sid", F.sum("ns").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int")
    )
    naive = numbered.groupBy("user_id", "sid").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda s: s["event_type"],
        ).alias("path"),
        F.count("*").alias("n"),
    )
    want = sorted(
        (r["user_id"], r["sid"], tuple(r["path"]), r["n"]) for r in naive.collect()
    )
    for block in (1800, 300):  # block << gap forces cross-block stitches
        got = session_paths_two_phase(
            e, ["user_id"], "ts", gap_sec=1800, val_col="event_type",
            block_sec=block, order_tiebreak=["event_id"],
        )
        gv = sorted(
            (r["user_id"], r["session_id"], tuple(r["path"]), r["n_events"])
            for r in got.collect()
        )
        assert gv == want, block


def test_session_paths_two_phase_no_single_task_holds_hot_key(spark, sf_dir):
    """Skew guarantee (VERDICT r6 item 1): the expensive per-event sort
    windows key on (user, __block) — asserted in the executed plan — and
    the largest (user, block) group is a small fraction of the hot user's
    history, so no task ever sorts the full stream. The only per-user
    window runs over fragment summaries (no collect_list in its plan
    subtree — Catalyst prunes path content out of that branch)."""
    from scraper_db_refine_merge_spark.operators.skew import session_paths_two_phase

    e = load_table(spark, sf_dir, "events")
    skewed = e.withColumn(
        "user_id", F.when(F.col("event_id") % 2 == 0, F.lit(0)).otherwise(F.col("user_id"))
    ).select("user_id", "event_id", "event_type", "ts")

    out = session_paths_two_phase(
        skewed, ["user_id"], "ts", gap_sec=1800, val_col="event_type",
        order_tiebreak=["event_id"],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # every lag window over raw events keys on user_id AND __block
    win_lines = [ln for ln in plan.splitlines() if "Window" in ln and "lag(" in ln]
    assert win_lines and all("__block" in ln for ln in win_lines), win_lines

    hot_total = skewed.filter(F.col("user_id") == 0).count()
    max_part = (
        skewed.withColumn("__block", F.floor(F.col("ts").cast("long") / 1800))
        .groupBy("user_id", "__block")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert hot_total > 300
    assert max_part < hot_total * 0.2, (max_part, hot_total)


def test_funnel_two_phase_equals_whole_sequence_fold(spark, sf_dir):
    """Per-block transition functions composed over block summaries must
    equal the whole-sequence fold for any block size (composition is
    associative — split points can't matter)."""
    from scraper_db_refine_merge_spark.operators.skew import funnel_two_phase

    e = load_table(spark, sf_dir, "events")
    seq = e.groupBy("user_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda s: s["event_type"],
        ).alias("path")
    )
    coded = F.transform(
        F.col("path"),
        lambda x: F.when(x == "click", 1).when(x == "error", 2).when(x == "purchase", 3).otherwise(0),
    )
    stage = F.aggregate(
        coded,
        F.lit(0),
        lambda acc, x: F.when((acc == 0) & (x == 1), 1)
        .when((acc == 1) & (x == 2), 2)
        .when((acc == 2) & (x == 3), 3)
        .otherwise(acc),
    )
    want = sorted(
        (r["user_id"], r["stage"]) for r in seq.select("user_id", stage.alias("stage")).collect()
    )
    for block in (86400, 120):
        got = funnel_two_phase(
            e, ["user_id"], "ts", ["click", "error", "purchase"],
            val_col="event_type", block_sec=block, order_tiebreak=["event_id"],
        )
        assert sorted((r["user_id"], r["stage"]) for r in got.collect()) == want, block


def test_funnel_two_phase_boundary_state_is_bounded(spark, sf_dir):
    """The per-(key, block) boundary state is the transition function —
    exactly |stages|+1 ints — and the per-event collect keys on
    (user, __block), never bare user_id."""
    from scraper_db_refine_merge_spark.operators.skew import funnel_two_phase

    e = load_table(spark, sf_dir, "events")
    skewed = e.withColumn(
        "user_id", F.when(F.col("event_id") % 2 == 0, F.lit(0)).otherwise(F.col("user_id"))
    ).select("user_id", "event_id", "event_type", "ts")
    out = funnel_two_phase(
        skewed, ["user_id"], "ts", ["click", "error", "purchase"],
        val_col="event_type", block_sec=1800, order_tiebreak=["event_id"],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the event-level collect aggregates on (user_id, __block)
    agg_lines = [
        ln for ln in plan.splitlines()
        if "collect_list" in ln and "keys=" in ln and "__fn" not in ln
    ]
    assert agg_lines and all("__block" in ln for ln in agg_lines), agg_lines


def test_latest_wins_agg_equals_window_forms(spark):
    """r16: the max_by aggregation form of W3 latest-wins must be
    row-identical to the row_number window form (latest_per_key) on a
    skew-injected frame, including the degenerate orderings the window's
    DESC NULLS LAST implies: NULL order keys rank below any value, an
    all-NULL leading key falls through to the tie-break, and column
    order/names are preserved."""
    from scraper_db_refine_merge_spark.operators import dedup as dd

    rows = []
    for i in range(3000):
        k = "hot" if i % 4 != 0 else f"k{i}"
        ts = None if i % 7 == 0 else (i % 911)  # NULL order keys interleaved
        rows.append((i, k, ts, float(i)))
    rows += [(9001, "allnull", None, 1.0), (9002, "allnull", None, 2.0)]
    # deliberately NOT key-first column order: preservation is part of the contract
    df = spark.createDataFrame(rows, "seq long, k string, ts int, v double")

    agg = dd.latest_wins_agg(df, ["k"], ["ts", "seq"])
    order = [F.col("ts").desc(), F.col("seq").desc()]
    window = dd.latest_per_key(df, ["k"], order)

    assert agg.columns == df.columns
    got = sorted(map(tuple, agg.collect()))
    assert got == sorted(map(tuple, window.collect()))
    # the all-NULL key resolved through the tie-break, like the window
    assert [r for r in got if r[1] == "allnull"] == [(9002, "allnull", None, 2.0)]
    # plan-observable: one aggregation, no Window operator anywhere
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
