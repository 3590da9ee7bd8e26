"""CAS (conditional-put) commits — the one commit protocol of every
versioned table, free of POSIX atomic-rename assumptions (r16, VERDICT r15
item 1).

Committing version N = EXCLUSIVE CREATE of ``_commits/c-<N>`` (put-if-absent
on a real object store); readers resolve the highest INTACT entry. These
tests pin the mechanics: crash fallback on torn top entries, the
exclusive-create single-writer check, log GC, and the partitioned-merge
integration with renames and symlinks disabled.
"""

from __future__ import annotations

import os

import pytest

import scraper_db_refine_merge_spark.streaming.store as st
from scraper_db_refine_merge_spark.operators.merge import merge_upsert_partitioned
from scraper_db_refine_merge_spark.streaming.store import read_table


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v long")


def _rows(spark, target):
    return {tuple(r) for r in read_table(spark, target).collect()}


@pytest.fixture
def no_replace(monkeypatch):
    """Simulate an object store: os.replace (atomic rename) unavailable."""
    def refuse(*a, **k):
        raise OSError("atomic rename not supported on this filesystem")

    monkeypatch.setattr(os, "replace", refuse)


def test_cas_commit_roundtrip_and_log_gc(spark, tmp_path):
    target = str(tmp_path / "s")
    st.store_commit(_df(spark, [("a", 1)]), target)
    assert [s for s, _ in st._commitlog_entries(target)] == [1]
    assert _rows(spark, target) == {("a", 1)}

    st.store_commit(_df(spark, [("a", 2)]), target)
    assert _rows(spark, target) == {("a", 2)}
    # superseded entry GC'd; one live entry at the committed seq
    assert [s for s, _ in st._commitlog_entries(target)] == [2]
    # retention: seq-1 snapshot GC'd with keep=1
    assert [s for s, _ in st.store_versions(target)] == [2]


def test_torn_top_log_entry_falls_back_to_previous_commit(spark, tmp_path):
    """A crashed CAS writer leaves an empty/dangling top entry; readers
    fall back to the last intact entry (append-only crash semantics), and
    the next commit clears the torn orphan at its seq."""
    target = str(tmp_path / "s")
    st.store_commit(_df(spark, [("a", 1)]), target)
    log_dir = os.path.join(target, st._COMMITLOG)
    open(os.path.join(log_dir, "c-000002"), "w").close()  # torn: empty
    assert _rows(spark, target) == {("a", 1)}
    # dangling content is equally torn
    with open(os.path.join(log_dir, "c-000002"), "w") as f:
        f.write("v-000002-deadbeef")
    assert _rows(spark, target) == {("a", 1)}

    st.store_commit(_df(spark, [("a", 2)]), target)
    assert _rows(spark, target) == {("a", 2)}


def test_cas_exclusive_create_rejects_competing_writer(spark, tmp_path):
    """Two writers deriving the same next seq from the same prior snapshot:
    the loser's conditional put fails BEFORE its state becomes visible."""
    target = str(tmp_path / "s")
    st.store_commit(_df(spark, [("a", 1)]), target)
    # competitor committed seq 2 first: intact entry naming a real dir
    os.makedirs(os.path.join(target, "v-000002-feedface"))
    open(os.path.join(target, "v-000002-feedface", "_x"), "w").close()
    with open(os.path.join(target, st._COMMITLOG, "c-000002"), "w") as f:
        f.write("v-000002-feedface")
    with pytest.raises(st.StoreConcurrentWriterError):
        st.put_pointer(target, "v-000002-00000000")


def test_store_commit_parts_and_compact_under_cas(spark, tmp_path, no_replace):
    """The manifest/parts machinery (fold-index substrate) runs rename-free
    end to end: incremental parts, replace_parts rewrite, compaction."""
    target = str(tmp_path / "s")
    st.store_commit_parts({"t": _df(spark, [("a", 1)])}, target)
    st.store_commit_parts({"t": _df(spark, [("b", 2)])}, target)
    got = {tuple(r) for r in read_table(spark, target, "t").collect()}
    assert got == {("a", 1), ("b", 2)}
    st.store_compact(spark, target)
    got = {tuple(r) for r in read_table(spark, target, "t").collect()}
    assert got == {("a", 1), ("b", 2)}


def _mk_batch(spark, rows):
    return spark.createDataFrame(rows, "event_id string, day string, value double")


def test_partitioned_merge_rename_and_symlink_free(spark, tmp_path, no_replace, monkeypatch):
    """The full object-store commit path: parts manifest + CAS log entry,
    with os.rename and os.symlink disabled as well. Two upserts,
    latest-wins read-back, one live log entry."""
    def refuse(*a, **k):
        raise OSError("not supported on this filesystem")

    monkeypatch.setattr(os, "symlink", refuse)
    monkeypatch.setattr(os, "rename", refuse)
    target = str(tmp_path / "pt")
    merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "d1", 1.0), ("e2", "d2", 2.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "d1", 10.0), ("e3", "d3", 3.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    assert len(st._commitlog_entries(target)) == 1
    got = {tuple(r) for r in read_table(spark, target).collect()}
    assert got == {("e1", 10.0, "d1"), ("e2", 2.0, "d2"), ("e3", 3.0, "d3")}
    assert st.store_version_dir(target).startswith(os.path.join(target, "v-"))


def test_partitioned_merge_crash_before_cas_put_leaves_previous_snapshot(
    spark, tmp_path, no_replace, monkeypatch
):
    """Crash injection at the CAS boundary: dying just before the
    conditional put leaves readers on the previous snapshot; the next
    successful merge GCs the orphaned version and part."""
    target = str(tmp_path / "pt")
    merge_upsert_partitioned(
        spark, target, _mk_batch(spark, [("e1", "d1", 1.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    before = {tuple(r) for r in read_table(spark, target).collect()}

    real_put = st.put_pointer

    def crash(*a, **k):
        raise RuntimeError("injected crash before pointer put")

    monkeypatch.setattr(st, "put_pointer", crash)
    with pytest.raises(RuntimeError, match="injected"):
        merge_upsert_partitioned(
            spark, target, _mk_batch(spark, [("e1", "d1", 99.0)]),
            key_cols=["event_id"], partition_col="day",
        )
    assert {tuple(r) for r in read_table(spark, target).collect()} == before

    monkeypatch.setattr(st, "put_pointer", real_put)
    merge_upsert_partitioned(
        spark, target, _mk_batch(spark, [("e1", "d1", 5.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    got = {tuple(r) for r in read_table(spark, target).collect()}
    assert got == {("e1", 5.0, "d1")}


# ----------------------------------------------------------------------
# GC: after every commit shape, parts/ holds exactly the top-level dirs
# the retained manifests reference — nothing leaks, nothing live is lost.


def _referenced_parts(target):
    out = set()
    for _, name in st.store_versions(target):
        for entry in st._manifest_of(os.path.join(target, name)).values():
            out.update(p.split("/")[0] for p in entry["parts"])
    return out


def _assert_gc_exact(spark, target, n_versions):
    assert len(st.store_versions(target)) == n_versions
    assert set(os.listdir(os.path.join(target, st._PARTS))) == _referenced_parts(target)
    for seq, name in st.store_versions(target):  # every retained version reads
        for table in st._manifest_of(os.path.join(target, name)):
            assert read_table(spark, target, table, version=seq).count() > 0


@pytest.mark.parametrize("keep", [1, 3])
def test_gc_keeps_exactly_the_referenced_parts(spark, tmp_path, monkeypatch, keep):
    target = str(tmp_path / "s")
    shapes = [
        lambda: st.store_commit(_df(spark, [("a", 1)]), target, keep=keep),  # snapshot
        lambda: st.store_commit(_df(spark, [("a", 2)]), target, keep=keep),
        lambda: st.store_commit_parts({"t": _df(spark, [("b", 1)])}, target, keep=keep),  # append
        lambda: st.store_commit_parts({"t": _df(spark, [("b", 2)])}, target, keep=keep),
        lambda: st.store_commit_parts(  # replace
            {}, target, keep=keep, replace_parts={"t": _df(spark, [("b", 3)])}
        ),
        lambda: st.store_commit_parts({"t": _df(spark, [("b", 4)])}, target, keep=keep),
    ]
    for n, commit in enumerate(shapes, 1):
        commit()
        _assert_gc_exact(spark, target, min(n, keep))
    st.store_compact(spark, target)  # compaction retains only its own version
    _assert_gc_exact(spark, target, 1)
    assert _rows(spark, target) == {("a", 2)}
    assert {tuple(r) for r in read_table(spark, target, "t").collect()} == {("b", 3), ("b", 4)}

    # a crashed writer's part: written, never committed, removed by the next commit
    def crash(*a, **k):
        raise RuntimeError("injected crash before the log entry")

    with monkeypatch.context() as mp, pytest.raises(RuntimeError, match="injected"):
        mp.setattr(st, "put_pointer", crash)
        st.store_commit_parts({"t": _df(spark, [("b", 5)])}, target, keep=keep)
    assert set(os.listdir(os.path.join(target, st._PARTS))) > _referenced_parts(target)
    st.store_commit(_df(spark, [("a", 3)]), target, keep=keep)
    _assert_gc_exact(spark, target, min(2, keep))

    # partitioned rewrite (its commits retain one version), then a crashed
    # rewrite's orphan part
    pt = str(tmp_path / "pt")
    for rows in ([("e1", "d1", 1.0), ("e2", "d2", 2.0)], [("e1", "d1", 3.0)]):
        merge_upsert_partitioned(
            spark, pt, _mk_batch(spark, rows), key_cols=["event_id"], partition_col="day"
        )
        _assert_gc_exact(spark, pt, 1)
    with monkeypatch.context() as mp, pytest.raises(RuntimeError, match="injected"):
        mp.setattr(st, "put_pointer", crash)
        merge_upsert_partitioned(
            spark, pt, _mk_batch(spark, [("e2", "d2", 4.0)]),
            key_cols=["event_id"], partition_col="day",
        )
    merge_upsert_partitioned(
        spark, pt, _mk_batch(spark, [("e3", "d1", 5.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    _assert_gc_exact(spark, pt, 1)
    got = {tuple(r) for r in read_table(spark, pt).collect()}
    assert got == {("e1", 3.0, "d1"), ("e2", 2.0, "d2"), ("e3", 5.0, "d1")}
