"""Streaming HLL (streaming/sketch_stream.py): stream == batch, and
at-least-once safety (re-merging a batch is a no-op)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from scraper_db_refine_merge_spark.operators.sketches import hll_registers
from scraper_db_refine_merge_spark.streaming.runner import drain, land_batches
from scraper_db_refine_merge_spark.streaming.sketch_stream import (
    merge_register_tables,
    stream_hll_registers,
)
from scraper_db_refine_merge_spark.streaming.store import read_table


def _regs_set(df):
    return sorted(tuple(r) for r in df.select("event_type", "bucket", "max_rho").collect())


def test_remerging_same_batch_is_noop(spark):
    df = spark.range(200).select(
        F.col("id").alias("user_id"), F.lit("t").alias("event_type")
    )
    regs = hll_registers(df, ["event_type"], "user_id")
    twice = merge_register_tables(regs, regs, ["event_type"])
    assert _regs_set(regs) == _regs_set(twice)


def test_remerging_same_kmv_state_is_noop(spark):
    """KMV merge (union + distinct + re-top-k) is idempotent: merging a
    state with itself returns it unchanged."""
    from scraper_db_refine_merge_spark.operators.sketches import KMV_K, _md5
    from scraper_db_refine_merge_spark.streaming.sketch_stream import merge_kmv_tables

    hashes = spark.range(200).select(
        F.lit("t").alias("event_type"), _md5(F.col("id")).alias("h")
    )
    x = merge_kmv_tables(hashes.limit(0), hashes, ["event_type"], KMV_K)

    def rows(df):
        return sorted(tuple(r) for r in df.select("event_type", "h").collect())

    assert len(rows(x)) == KMV_K
    assert rows(merge_kmv_tables(x, x, ["event_type"], KMV_K)) == rows(x)


_USER_BATCHES = [range(0, 100), range(50, 150), range(0, 30)]
_ALL_USERS = [u for users in _USER_BATCHES for u in users]


def test_stream_registers_equal_batch_registers(spark, tmp_path):
    landing = str(tmp_path / "landing")
    land_batches(landing, [[{"user_id": u, "event_type": "x"} for u in us] for us in _USER_BATCHES])
    all_users = _ALL_USERS

    target = str(tmp_path / "regs")
    drain(
        stream_hll_registers(
            spark, landing, target, str(tmp_path / "ckpt"),
            ["event_type"], "user_id", schema="user_id long, event_type string",
        ),
        timeout_s=120,
    )

    batch_df = spark.createDataFrame(
        [(u, "x") for u in all_users], "user_id long, event_type string"
    )
    expected = hll_registers(batch_df, ["event_type"], "user_id")
    assert _regs_set(read_table(spark, target)) == _regs_set(expected)


def _cms_cells(spark, target):
    return sorted(
        tuple(r) for r in read_table(spark, str(target)).select("row", "bucket", "cnt").collect()
    )


def test_stream_cms_equals_batch_and_replay_is_guarded(spark, tmp_path):
    """SUM-merge is not idempotent, so the CMS sink's exactly-once comes
    from the batch-id marker committed atomically with the registers:
    (1) streamed registers equal the batch-built CMS over the union;
    (2) re-running the same landing with a FRESH checkpoint (every batch
    replays from id 0) must leave the registers unchanged — without the
    guard each cell would double."""
    from scraper_db_refine_merge_spark.operators.sketches import cms_registers
    from scraper_db_refine_merge_spark.streaming.sketch_stream import stream_cms_registers

    landing = str(tmp_path / "landing")
    land_batches(landing, [[{"user_id": u} for u in us] for us in _USER_BATCHES])
    all_users = _ALL_USERS

    target = tmp_path / "registers"
    drain(
        stream_cms_registers(
            spark, landing, str(target), str(tmp_path / "ckpt1"), [], "user_id",
            schema="user_id long",
        )
    )

    batch_df = spark.createDataFrame([(u,) for u in all_users], "user_id long")
    expected = sorted(
        tuple(r)
        for r in cms_registers(batch_df, [], "user_id").select("row", "bucket", "cnt").collect()
    )
    streamed = _cms_cells(spark, target)
    assert streamed == expected

    # full replay: fresh checkpoint, same landing files
    drain(
        stream_cms_registers(
            spark, landing, str(target), str(tmp_path / "ckpt2"), [], "user_id",
            schema="user_id long",
        )
    )
    assert _cms_cells(spark, target) == expected


def test_stream_kmv_equals_batch_and_replay_is_noop(spark, tmp_path):
    """KMV merge (union + distinct + re-top-k) is idempotent, and the sink
    also runs under the shared batch-id guard: streamed state equals the
    batch KMV over the union, and a full replay with a fresh checkpoint
    leaves it unchanged."""
    from scraper_db_refine_merge_spark.operators.sketches import KMV_K, kmv_sketch
    from scraper_db_refine_merge_spark.streaming.sketch_stream import stream_kmv_hashes

    landing = str(tmp_path / "landing")
    land_batches(landing, [[{"user_id": u, "event_type": "x"} for u in us] for us in _USER_BATCHES])
    all_users = _ALL_USERS

    target = tmp_path / "kmv"
    drain(
        stream_kmv_hashes(
            spark, landing, str(target), str(tmp_path / "ck1"),
            ["event_type"], "user_id", schema="user_id long, event_type string",
        )
    )

    def state():
        return sorted(
            tuple(r) for r in read_table(spark, str(target)).select("event_type", "h").collect()
        )

    streamed = state()
    assert len(streamed) == KMV_K  # 120 distinct users > k

    # batch equivalence: kth_hash of the batch sketch == max streamed hash
    batch_df = spark.createDataFrame(
        [(u, "x") for u in all_users], "user_id long, event_type string"
    )
    kth = kmv_sketch(batch_df, ["event_type"], "user_id", k=KMV_K).first()["kth_hash"]
    assert max(h for _, h in streamed) == kth

    drain(
        stream_kmv_hashes(
            spark, landing, str(target), str(tmp_path / "ck2"),
            ["event_type"], "user_id", schema="user_id long, event_type string",
        )
    )
    assert state() == streamed


def test_store_commit_is_atomic_and_crash_safe(spark, tmp_path):
    """The versioned store's only committing operation is the commit-log
    entry: a writer dying at ANY earlier point (simulated by a fully
    written part and version dir that no log entry names) leaves the
    previous state live, and the next successful commit garbage-collects
    the orphans."""
    import os

    from scraper_db_refine_merge_spark.streaming.store import (
        store_commit,
        store_version_dir,
    )

    target = str(tmp_path / "store")
    df1 = spark.createDataFrame([(1, "a")], "k long, v string")
    store_commit(df1, target)
    assert [tuple(r) for r in read_table(spark, target).collect()] == [(1, "a")]

    # simulate a crash mid-write: part and manifest exist, log entry never made
    orphan = os.path.join(target, "v-000002-deadbeef")
    orphan_part = os.path.join(target, "parts", "p-orphan")
    spark.createDataFrame([(9, "x")], "k long, v string").write.parquet(orphan_part)
    os.makedirs(orphan)
    with open(os.path.join(orphan, "_MANIFEST.json"), "w") as f:
        json.dump({"default": {"parts": ["p-orphan"]}}, f)
    assert [tuple(r) for r in read_table(spark, target).collect()] == [(1, "a")]

    # next real commit wins and GCs the orphan
    store_commit(spark.createDataFrame([(2, "b")], "k long, v string"), target)
    assert [tuple(r) for r in read_table(spark, target).collect()] == [(2, "b")]
    assert not os.path.exists(orphan)
    assert not os.path.exists(orphan_part)
    assert store_version_dir(target) is not None


def test_store_marker_commits_with_snapshot(spark, tmp_path):
    from scraper_db_refine_merge_spark.streaming.store import store_commit, store_marker

    target = str(tmp_path / "store")
    assert store_marker(target, "_applied_batch_id") is None
    store_commit(
        spark.createDataFrame([(1,)], "k long"), target,
        markers={"_applied_batch_id": "7"},
    )
    assert store_marker(target, "_applied_batch_id") == "7"


def test_stream_asof_enrich_replay_is_guarded(spark, tmp_path):
    """The as-of enrichment sink appends (non-idempotent), so a full
    replay with a fresh checkpoint must be a no-op via the batch-id
    guard — and each probe matches exactly its as-of version."""
    from pyspark.sql import functions as F2

    from scraper_db_refine_merge_spark.streaming.joins import stream_asof_enrich

    # two-version history for user 1, one version for user 2
    hist = spark.createDataFrame(
        [
            (1, 0, 10, "2024-01-01 00:00:00", "2024-01-10 00:00:00"),
            (1, 1, 20, "2024-01-10 00:00:00", None),
            (2, 0, 30, "2024-01-03 00:00:00", None),
        ],
        "user_id long, version int, band int, vf string, vt string",
    ).select(
        "user_id", "version", "band",
        F2.to_timestamp("vf").alias("vf"), F2.to_timestamp("vt").alias("vt"),
    )

    landing = str(tmp_path / "landing")
    batches = [
        [(1, "2024-01-05T00:00:00+00:00"), (2, "2024-01-05T00:00:00+00:00")],
        [(1, "2024-01-15T00:00:00+00:00"), (2, "2024-01-02T00:00:00+00:00")],  # 2nd pre-history: dropped
    ]
    land_batches(landing, [[{"user_id": u, "pts": ts} for u, ts in rows] for rows in batches])

    target = str(tmp_path / "enriched")

    def run(ck):
        drain(
            stream_asof_enrich(
                spark, landing, hist, target, str(tmp_path / ck),
                schema="user_id long, pts timestamp",
            )
        )
        return sorted(
            (r["user_id"], str(r["pts"]), r["version"], r["band"])
            for r in read_table(spark, target).collect()
        )

    got = run("ck1")
    assert got == [
        (1, "2024-01-05 00:00:00", 0, 10),
        (1, "2024-01-15 00:00:00", 1, 20),
        (2, "2024-01-05 00:00:00", 0, 30),
    ]
    assert run("ck2") == got  # full replay, fresh checkpoint → no-op


def test_store_retention_and_time_travel(spark, tmp_path):
    """keep>1 retains immutable snapshots; read_table(version=) reads any
    retained commit; GC drops commits beyond the window; the pointer
    always serves the newest."""
    from scraper_db_refine_merge_spark.streaming.store import (
        store_commit,
        store_versions,
    )

    target = str(tmp_path / "store")
    for i in (1, 2, 3):
        store_commit(spark.createDataFrame([(i,)], "k long"), target, keep=2)

    assert [s for s, _ in store_versions(target)] == [2, 3]
    assert read_table(spark, target, version=1) is None  # GC'd
    assert [tuple(r) for r in read_table(spark, target, version=2).collect()] == [(2,)]
    assert [tuple(r) for r in read_table(spark, target).collect()] == [(3,)]


def test_store_commit_parts_is_one_atomic_snapshot(spark, tmp_path):
    """Multi-table commits: every named table's new part lands under ONE
    manifest behind one log entry; a partially-written never-committed
    snapshot is invisible for every table and is GC'd by the next commit."""
    import json
    import os

    from scraper_db_refine_merge_spark.streaming.store import (
        store_commit_parts,
    )

    target = str(tmp_path / "store")
    store_commit_parts(
        {
            "a": spark.createDataFrame([(1,)], "k long"),
            "b": spark.createDataFrame([(10,)], "k long"),
        },
        target,
    )
    # orphan snapshot whose manifest lists only a new part of "a"
    # (simulated crash before the log entry)
    orphan = os.path.join(target, "v-000099-deadbeef")
    orphan_part = os.path.join(target, "parts", "p-orphan")
    spark.createDataFrame([(99,)], "k long").write.parquet(orphan_part)
    os.makedirs(orphan)
    with open(os.path.join(orphan, "_MANIFEST.json"), "w") as f:
        json.dump({"a": {"parts": ["p-orphan"]}}, f)
    assert [tuple(r) for r in read_table(spark, target, "a").collect()] == [(1,)]
    assert [tuple(r) for r in read_table(spark, target, "b").collect()] == [(10,)]
    # next commit moves both tables together and GCs the orphan
    store_commit_parts(
        {
            "a": spark.createDataFrame([(2,)], "k long"),
            "b": spark.createDataFrame([(20,)], "k long"),
        },
        target,
    )
    assert sorted(r.k for r in read_table(spark, target, "a").collect()) == [1, 2]
    assert sorted(r.k for r in read_table(spark, target, "b").collect()) == [10, 20]
    assert not os.path.exists(orphan)
    assert not os.path.exists(orphan_part)


def test_store_commit_parts_is_incremental_o_batch(spark, tmp_path):
    """ADVICE r5: the manifest commit writes ONLY the new batch's rows —
    prior part directories are immutable (same files, same mtimes after
    the next fold) and each commit adds exactly one part per table, so
    per-batch write I/O is O(batch), not a full-state rewrite."""
    import os

    from scraper_db_refine_merge_spark.streaming.store import (
        store_commit_parts,
    )

    target = str(tmp_path / "store")
    store_commit_parts(
        {
            "pairs": spark.createDataFrame([(1,)], "k long"),
            "sigs": spark.createDataFrame([(10,)], "k long"),
        },
        target,
    )
    parts_root = os.path.join(target, "parts")
    first_parts = sorted(os.listdir(parts_root))
    assert len(first_parts) == 2

    def _snapshot(pnames):
        out = {}
        for p in pnames:
            d = os.path.join(parts_root, p)
            out[p] = {f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)}
        return out

    before = _snapshot(first_parts)
    store_commit_parts(
        {
            "pairs": spark.createDataFrame([(2,)], "k long"),
            "sigs": spark.createDataFrame([(20,)], "k long"),
        },
        target,
    )
    # old parts byte-identical and untouched; exactly 2 new parts appeared
    assert _snapshot(first_parts) == before
    assert len(os.listdir(parts_root)) == 4
    # readers see the union across parts
    assert sorted(r.k for r in read_table(spark, target, "pairs").collect()) == [1, 2]
    assert sorted(r.k for r in read_table(spark, target, "sigs").collect()) == [10, 20]


def test_store_parts_gc_drops_unreferenced_orphans(spark, tmp_path):
    """A crashed writer's part dirs (written but never manifested) are
    GC'd by the next successful commit; referenced parts survive."""
    import os

    from scraper_db_refine_merge_spark.streaming.store import (
        store_commit_parts,
    )

    target = str(tmp_path / "store")
    store_commit_parts({"pairs": spark.createDataFrame([(1,)], "k long")}, target)
    orphan = os.path.join(target, "parts", "p-deadbeefdead")
    spark.createDataFrame([(99,)], "k long").write.parquet(orphan)
    store_commit_parts({"pairs": spark.createDataFrame([(2,)], "k long")}, target)
    assert not os.path.exists(orphan)
    assert sorted(r.k for r in read_table(spark, target, "pairs").collect()) == [1, 2]


def test_store_single_writer_violation_raises(spark, tmp_path, monkeypatch):
    """The commit section enforces the single-writer contract: if another
    writer's commit-log entry lands at this writer's seq first, the
    exclusive create fails and the commit raises instead of silently losing
    an update. Simulated by a competing entry created just before our
    exclusive create."""
    import os as _os

    import pytest

    from scraper_db_refine_merge_spark.streaming import store as st

    target = str(tmp_path / "store")
    st.store_commit(spark.createDataFrame([(1,)], "k long"), target)

    rival = "v-000002-feedface"
    real_open = _os.open

    def racing_open(path, flags, *a, **k):
        if flags & _os.O_EXCL and _os.path.basename(path).startswith("c-"):
            _os.makedirs(_os.path.join(target, rival))
            with open(path, "w") as f:  # competing writer wins the entry
                f.write(rival)
        return real_open(path, flags, *a, **k)

    monkeypatch.setattr(_os, "open", racing_open)
    with pytest.raises(st.StoreConcurrentWriterError):
        st.store_commit(spark.createDataFrame([(2,)], "k long"), target)
    monkeypatch.undo()
    assert st.resolve_pointer_name(target) == rival


def test_store_commit_under_aqe_off_plans_no_rebalance(spark, tmp_path, monkeypatch):
    """The REBALANCE write hint only sizes files through AQE; with AQE off
    it would plan a plain round-robin exchange for nothing, so store
    writes skip it — decided by the frame's own session setting."""
    from scraper_db_refine_merge_spark.streaming import store as st

    plans = []
    real_sized = st._sized_for_write

    def spy(df):
        out = real_sized(df)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(st, "_sized_for_write", spy)
    df = spark.range(100).repartition(4)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        st.store_commit(df, str(tmp_path / "off"))
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        st.store_commit(df, str(tmp_path / "on"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    off, on = plans
    assert "REBALANCE" not in off, off
    assert "REBALANCE" in on, on  # the spy sees the hint when AQE is on


def test_release_all_threads_drains_worker_caches(spark):
    """ADVICE r6: caches persisted by pooled worker threads (which never
    call release_caches themselves) are drained by the main thread's
    release_all_threads() escape hatch."""
    import threading

    from scraper_db_refine_merge_spark.operators._cache import (
        persist_tracked,
        release_all_threads,
    )

    dfs = []

    def work():
        df = persist_tracked(spark.range(10))
        df.count()
        dfs.append(df)

    threads = [threading.Thread(target=work) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert all(df.storageLevel.useMemory for df in dfs)
    assert release_all_threads() >= 2
    assert not any(df.storageLevel.useMemory for df in dfs)


def test_store_parts_retention_time_travel_and_gc(spark, tmp_path):
    """VERDICT r6 item 5: retained manifests are readable AS OF their
    commit via read_table(version=) — each resolves its OWN parts list
    (later appends invisible) — and retention GC keeps every part some
    retained manifest references while dropping parts owned only by
    expired snapshots."""
    import os

    from scraper_db_refine_merge_spark.streaming.store import (
        store_commit_parts,
    )

    target = str(tmp_path / "store")
    for i in (1, 2, 3):
        store_commit_parts(
            {"t": spark.createDataFrame([(i,)], "k long")}, target, keep=2
        )
    # keep=2 retains v2+v3: v1 GC'd, but v1's PART survives (v2/v3 still
    # reference it — parts are shared, GC is by manifest reference)
    assert read_table(spark, target, "t", version=1) is None
    v2 = sorted(r.k for r in read_table(spark, target, "t", version=2).collect())
    v3 = sorted(r.k for r in read_table(spark, target, "t", version=3).collect())
    assert v2 == [1, 2] and v3 == [1, 2, 3]
    assert len(os.listdir(os.path.join(target, "parts"))) == 3


def test_release_all_threads_concurrent_with_worker_releases(spark):
    """ADVICE r7: release_all_threads racing worker-thread release_caches /
    cache_scope exits must never IndexError or double-unpersist — each
    entry list is swapped out atomically under the registry lock, so the
    union of all drains equals the set of persisted caches exactly."""
    import threading

    from scraper_db_refine_merge_spark.operators._cache import (
        cache_scope,
        persist_tracked,
        release_all_threads,
        release_caches,
    )

    freed = []
    errors = []
    stop = threading.Event()

    def worker(seed):
        try:
            for i in range(8):
                with cache_scope():
                    persist_tracked(spark.range(seed * 100 + i, seed * 100 + i + 5)).count()
                freed.append(release_caches())
        except Exception as e:  # pragma: no cover - the assertion target
            errors.append(e)

    def reaper():
        while not stop.is_set():
            freed.append(release_all_threads())

    workers = [threading.Thread(target=worker, args=(s,)) for s in range(4)]
    rp = threading.Thread(target=reaper)
    rp.start()
    for t in workers:
        t.start()
    for t in workers:
        t.join()
    stop.set()
    rp.join()
    assert not errors, errors
    # 4 workers x 8 scopes = 32 persists; every cache freed exactly once.
    freed.append(release_all_threads())
    assert sum(freed) == 32


def test_cache_scope_empty_inner_scope_preserves_registry(spark):
    """ADVICE r8 (medium, regression from the r8 locking rework): exiting a
    scope must remove the scope's OWN list by identity. ``st.remove(entries)``
    removes the first list comparing EQUAL — an inner scope that persisted
    nothing has ``entries == []``, equal to the thread's root registry at
    index 0, so the root was removed instead: later persists landed in the
    already-exited scope's list and leaked past it, and the outer scope
    drained entries it never created."""
    from scraper_db_refine_merge_spark.operators._cache import (
        _registry,
        cache_scope,
        persist_tracked,
        release_caches,
    )

    release_caches()
    st = _registry()
    root = st[0]
    assert root == [] and len(st) == 1
    outer_df = None
    with cache_scope():
        with cache_scope():
            pass  # inner scope persists nothing: entries == [] == root
        # The root registry object must still be index 0 (identity, not a
        # re-created equal list), and the stack depth must be exactly 2.
        assert st[0] is root and len(st) == 2
        outer_df = persist_tracked(spark.range(5))
        outer_df.count()
        assert outer_df.storageLevel.useMemory
    # Outer scope exit drained exactly its own entry.
    assert not outer_df.storageLevel.useMemory
    assert st[0] is root and len(st) == 1
    # Nothing leaked into the root registry.
    assert release_caches() == 0


def test_cache_scope_nested_exit_drains_own_entries_only(spark):
    """Companion to the identity fix: with the corrupted stack, a persist
    made AFTER an empty inner scope exited would register in the dead inner
    list and survive the outer scope's exit. Assert the full nesting drains
    each scope's caches at its own exit and nothing survives."""
    from scraper_db_refine_merge_spark.operators._cache import (
        cache_scope,
        persist_tracked,
        release_caches,
    )

    release_caches()
    with cache_scope():
        a = persist_tracked(spark.range(3))
        a.count()
        with cache_scope():
            pass
        b = persist_tracked(spark.range(4))
        b.count()
        with cache_scope():
            c = persist_tracked(spark.range(6))
            c.count()
        assert not c.storageLevel.useMemory  # inner drained at inner exit
        assert a.storageLevel.useMemory and b.storageLevel.useMemory
    assert not a.storageLevel.useMemory and not b.storageLevel.useMemory
    assert release_caches() == 0


def test_store_compact_squashes_parts_read_identical(spark, tmp_path):
    """r14 (VERDICT r13 item 5): N folds leave N parts per table;
    store_compact squashes to one part per table with row-identical reads,
    carries markers over, and retention GC reclaims the small parts."""
    import os

    from scraper_db_refine_merge_spark.streaming.store import (
        store_compact,
        store_commit_parts,
        store_marker,
        store_version_dir,
    )

    root = str(tmp_path / "st")
    for i in range(4):
        store_commit_parts(
            {
                "a": spark.createDataFrame([(i, f"a{i}")], "k int, v string"),
                "b": spark.createDataFrame([(i * 10,)], "x int"),
            },
            root,
            markers={"_batch": str(i)},
        )
    parts_root = os.path.join(root, "parts")
    assert len(os.listdir(parts_root)) == 8  # 4 folds x 2 tables
    before_a = sorted(map(tuple, read_table(spark, root, "a").collect()))
    before_b = sorted(map(tuple, read_table(spark, root, "b").collect()))

    vd = store_compact(spark, root)
    assert vd == store_version_dir(root)
    # one part per table; fine-grained parts GC'd (keep=1)
    assert len(os.listdir(parts_root)) == 2
    assert sorted(map(tuple, read_table(spark, root, "a").collect())) == before_a
    assert sorted(map(tuple, read_table(spark, root, "b").collect())) == before_b
    # markers travel with the compacted state (exactly-once guards survive)
    assert store_marker(root, "_batch") == "3"
    # idempotent: nothing left to squash → live dir unchanged, no new commit
    assert store_compact(spark, root) == vd


def test_store_compact_noop_on_empty_and_full_rewrite_stores(spark, tmp_path):
    from scraper_db_refine_merge_spark.streaming.store import (
        store_commit,
        store_compact,
        store_version_dir,
    )

    assert store_compact(spark, str(tmp_path / "missing")) is None
    root = str(tmp_path / "full")
    store_commit(spark.createDataFrame([(1,)], "x int"), root)
    assert store_compact(spark, root) == store_version_dir(root)
