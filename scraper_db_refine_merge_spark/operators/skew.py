"""Skew mitigation operators.

AQE's skew-join splitting handles sort-merge joins at runtime (enabled in
session.py), but these shapes still need explicit salting at corpus scale:

- an equi-join against a side too big to broadcast where a handful of hot
  keys (the empty venue name, the "unknown" platform, a viral document
  fingerprint) concentrate in one task: ``salted_join`` spreads each hot
  key over ``n_salts`` tasks by replicating the build side;
- per-key ORDER-dependent windows where a hash salt would break the
  sequence (gap sessionization): ``sessionize_two_phase`` salts by TIME
  BLOCK — order survives within blocks, and boundary fix-up runs over
  block summaries whose per-key count is bounded by calendar time, not
  event density;
- per-key ORDERED COLLECTION (event paths, sequence-pattern funnels):
  ``session_paths_two_phase`` and ``funnel_two_phase`` generalize the
  time-block stitch from counts to ordered state (VERDICT r6 item 1) —
  per-block path FRAGMENTS / per-block transition FUNCTIONS, stitched over
  calendar-bounded summaries, so no task ever sorts one key's full
  history.

W3 latest-wins over hot keys needs no salt: for the newest-version
(all-DESC) order, ``dedup.latest_wins_agg``'s partial aggregate collapses
a hot key to one row per map task before the shuffle.

All are deterministic: salt comes from a hash of stable columns, never
``rand()``, so retried tasks produce identical output (speculative
execution and stage retries would otherwise corrupt exactly-once sinks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_salt(df: DataFrame, salt_from: list[str], n_salts: int) -> DataFrame:
    """Deterministic ``__salt`` in [0, n_salts) from a hash of stable columns."""
    return df.withColumn("__salt", F.pmod(F.hash(*[F.col(c) for c in salt_from]), F.lit(n_salts)))


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: list[str],
    n_salts: int = 16,
    salt_from: list[str] | None = None,
) -> DataFrame:
    """Inner equi-join with the skewed side salted and the other side
    replicated.

    The skewed side gets a deterministic salt; the other side is exploded
    ×``n_salts`` so every (key, salt) bucket finds its match. Shuffle volume
    for the replicated side grows ×n_salts — use when that side is much
    smaller than the skewed side but too big (or too dynamic) to broadcast.

    Result equals ``skewed.join(other, on)`` row-for-row. (A right or
    full outer form would surface the replicated side's unmatched rows once
    per salt.)
    """
    salt_from = salt_from or skewed.columns
    s = with_salt(skewed, salt_from, n_salts)
    r = other.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = s.join(r, [*on, "__salt"], "inner")
    return out.drop("__salt")


def sessionize_two_phase(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    gap_sec: int,
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Skew-hardened gap-sessionization: per-key ``(session_count,
    event_count)`` equal to the single-window form (q33) but with NO task
    ever holding one key's full history (VERDICT r5 item 4 — one bot user
    with 10^8 events turns ``Window.partitionBy(user)`` into a
    single-task straggler at scale).

    Phase 1 windows over ``(key, time-block)`` — ``block =
    floor(epoch/gap_sec)`` is a deterministic time-range salt, so a hot
    key's events spread across as many tasks as it has active blocks —
    counting within-block session starts exactly as the naive lag-window
    does. Phase 2 fixes the block boundaries on block SUMMARIES (one row
    per non-empty (key, block)): a session continues across a boundary iff
    the first event of a block follows the last event of the key's
    previous non-empty block by ≤ gap; each such continuation was counted
    as a fresh start in phase 1, so it subtracts one. The phase-2 window
    per key is bounded by CALENDAR TIME (range/gap_sec summaries),
    independent of event density — the property that kills the straggler.

    Exact for any block width (empty blocks are skipped by the lag over
    non-empty summaries; equal timestamps always share a block because the
    block is derived from ts). The block is gap_sec wide: the finest
    granularity that still lets most sessions resolve in phase 1.
    ``order_tiebreak``: extra columns making the within-block order total
    (mirrors the naive window's ORDER BY ts, tiebreak...; the per-key
    counts are order-insensitive in ties, but a total order keeps retried
    tasks deterministic).

    Counting-only by design: per-event session IDS need a per-key prefix
    scan — use the q33 single-window form where keys are known to be
    bounded, or carry phase-1 local ids + phase-2 offsets if ids are
    needed at scale.
    """
    tb = order_tiebreak or []
    ts_long = F.col(ts_col).cast("long")
    b = df.withColumn("__block", F.floor(ts_long / F.lit(gap_sec)))
    w1 = Window.partitionBy(*key_cols, "__block").orderBy(ts_col, *tb)
    prev = F.lag(ts_col).over(w1)
    start = F.when(
        prev.isNull() | (ts_long - prev.cast("long") > gap_sec), 1
    ).otherwise(0)
    local = (
        b.withColumn("__start", start)
        .groupBy(*key_cols, "__block")
        .agg(
            F.sum("__start").alias("__n_local"),
            F.count("*").alias("__n_events"),
            F.min(ts_long).alias("__first_ts"),
            F.max(ts_long).alias("__last_ts"),
        )
    )
    w2 = Window.partitionBy(*key_cols).orderBy("__block")
    prev_last = F.lag("__last_ts").over(w2)
    cont = F.when(
        prev_last.isNotNull() & (F.col("__first_ts") - prev_last <= gap_sec), 1
    ).otherwise(0)
    return (
        local.withColumn("__cont", cont)
        .groupBy(*key_cols)
        .agg(
            (F.sum("__n_local") - F.sum("__cont")).cast("long").alias("session_count"),
            F.sum("__n_events").alias("event_count"),
        )
    )


def session_paths_two_phase(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    gap_sec: int,
    val_col: str,
    block_sec: int | None = None,
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Skew-hardened gap-session PATH collection (VERDICT r6 item 1): one
    row per (key, session) with the session's ordered ``val_col`` sequence
    — equal to the single-window q122 shape (lag → running-sum session id →
    sort_array(collect_list)) but with NO task ever sorting one key's full
    history.

    Three phases, all exact for any ``block_sec`` > 0:

    1. FRAGMENTS — window over ``(key, block)`` (``block =
       floor(epoch/block_sec)``, the deterministic time-range salt): lag
       splits each block's events at gaps > ``gap_sec`` into locally-
       numbered fragments; each fragment aggregates to its ordered value
       array + ``(first_ts, last_ts, n_events)``. The expensive sort is
       per (key, block) — a hot key's events spread across as many tasks
       as it has active blocks.
    2. SESSION IDS — over fragment SUMMARIES ONLY (content pruned by
       Catalyst: the summary branch never evaluates the collect_list): a
       per-key window ordered by (block, fragment) marks a new session iff
       the fragment does not continue the previous one within ``gap_sec``,
       then a running sum numbers sessions. Fragment count per key is
       bounded by CALENDAR TIME (≤ sessions + non-empty blocks; session
       starts are ≥ gap_sec apart), independent of event density — the
       sessionize_two_phase property, now carrying ~32 bytes per row
       instead of per-event state.
    3. STITCH — join session ids back to content fragments on (key, block,
       fragment) and concatenate each session's fragments in (block,
       fragment) order. A session's group holds only ITS OWN fragments —
       the output row's inherent content, never the key's other sessions.

    Correctness of the stitch: fragments within one block are separated by
    gaps > gap_sec (phase 1 split them), so the phase-2 continuation test
    is vacuously false for them and only true block-boundary continuations
    merge; blocks partition time, so (block, fragment) order IS time
    order. Equal timestamps always share a block (block derives from ts).

    Returns ``(*key_cols, session_id, path, n_events, first_ts, last_ts)``
    with ``path`` the ordered array of ``val_col`` values and session_id
    1-based per key in time order. The inherent cost floor: a single
    session's path is one output value, so a session with 10^8 events is a
    10^8-element array wherever it is computed — cap upstream (e.g. drop
    bot keys via q83 heavy hitters) if single sessions can grow unbounded.
    ``order_tiebreak`` must make (ts, *tiebreak) a total order per key for
    a deterministic path.
    """
    block_sec = block_sec or gap_sec
    tb = order_tiebreak or []
    ts_long = F.col(ts_col).cast("long")
    b = df.withColumn("__block", F.floor(ts_long / F.lit(block_sec)))
    w1 = Window.partitionBy(*key_cols, "__block").orderBy(ts_col, *tb)
    prev = F.lag(ts_col).over(w1)
    start = F.when(
        prev.isNull() | (ts_long - prev.cast("long") > gap_sec), 1
    ).otherwise(0)
    frags = (
        b.withColumn(
            "__frag",
            F.sum(start).over(w1.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(*key_cols, "__block", "__frag")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col(ts_col).alias("__ts"),
                            *[F.col(c).alias(f"__tb{i}") for i, c in enumerate(tb)],
                            F.col(val_col).alias("__v"),
                        )
                    )
                ),
                lambda s: s["__v"],
            ).alias("__vals"),
            F.min(ts_long).alias("__first_ts"),
            F.max(ts_long).alias("__last_ts"),
            F.count("*").alias("__n_events"),
        )
    )
    # Phase 2 reads only the summary columns — Catalyst prunes the
    # collect_list aggregate out of this branch entirely, so the per-key
    # window moves fragment summaries, never path content.
    w2 = Window.partitionBy(*key_cols).orderBy("__block", "__frag")
    prev_last = F.lag("__last_ts").over(w2)
    new_sess = F.when(
        prev_last.isNull() | (F.col("__first_ts") - prev_last > gap_sec), 1
    ).otherwise(0)
    sess = (
        frags.select(*key_cols, "__block", "__frag", "__first_ts", "__last_ts")
        .withColumn(
            "session_id",
            F.sum(new_sess)
            .over(w2.rowsBetween(Window.unboundedPreceding, 0))
            .cast("int"),
        )
        .select(*key_cols, "__block", "__frag", "session_id")
    )
    stitched = frags.join(sess, [*key_cols, "__block", "__frag"])
    return (
        stitched.groupBy(*key_cols, "session_id")
        .agg(
            F.flatten(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col("__block").alias("__b"),
                                F.col("__frag").alias("__f"),
                                F.col("__vals").alias("__vals"),
                            )
                        )
                    ),
                    lambda s: s["__vals"],
                )
            ).alias("path"),
            F.sum("__n_events").cast("long").alias("n_events"),
            F.min("__first_ts").alias("first_ts"),
            F.max("__last_ts").alias("last_ts"),
        )
    )


def funnel_two_phase(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    stages: list,
    val_col: str,
    block_sec: int,
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Skew-hardened ordered-sequence funnel (VERDICT r6 item 1): per key,
    the furthest stage reached by an IN-ORDER match of ``stages`` in the
    ``val_col`` sequence ordered by (ts, tiebreak) — equal to the q118
    single-collect form, but no task ever holds one key's full sequence.

    The funnel automaton (stage s advances to s+1 exactly when the next
    value equals stages[s]) is a left fold, and folds COMPOSE: a block of
    events induces a transition FUNCTION stage → stage, representable as
    an array of |stages|+1 ints — the promised ≤|stages| boundary state
    per (key, block). Phase 1 computes each block's function by folding
    the block's ordered values over every possible entry stage at once
    (one aggregate per (key, block) group — the sort is block-bounded).
    Phase 2 composes the functions in block order over calendar-bounded
    per-key summaries (|stages|+1 ints each) and applies the composition
    to the initial stage 0. Function composition is associative, so the
    split points cannot change the result — exact for any block size.

    Returns ``(*key_cols, stage)`` with stage in [0, len(stages)].
    """
    tb = order_tiebreak or []
    n = len(stages)
    ts_long = F.col(ts_col).cast("long")
    b = df.withColumn("__block", F.floor(ts_long / F.lit(block_sec)))
    ordered_vals = F.transform(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(ts_col).alias("__ts"),
                    *[F.col(c).alias(f"__tb{i}") for i, c in enumerate(tb)],
                    F.col(val_col).alias("__v"),
                )
            )
        ),
        lambda s: s["__v"],
    )

    def step(s, x):
        # advance iff x is the next stage's value; stage comparison chain
        expr = s
        for i, sv in enumerate(stages):
            expr = F.when((s == i) & (x == F.lit(sv)), i + 1).otherwise(expr)
        return expr

    identity = F.array(*[F.lit(i) for i in range(n + 1)])
    block_fn = F.aggregate(
        ordered_vals,
        identity,
        lambda acc, x: F.transform(acc, lambda s: step(s, x)),
    )
    fns = b.groupBy(*key_cols, "__block").agg(block_fn.alias("__fn"))
    composed = F.aggregate(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("__block").alias("__b"), F.col("__fn").alias("__fn"))
                )
            ),
            lambda s: s["__fn"],
        ),
        F.lit(0),
        lambda s, fn: F.element_at(fn, s + 1),
    )
    return fns.groupBy(*key_cols).agg(composed.cast("int").alias("stage"))
