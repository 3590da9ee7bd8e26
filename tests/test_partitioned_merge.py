"""Partition-pruned MERGE: only touched partitions are rewritten."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

import scraper_db_refine_merge_spark.streaming.store as st
from scraper_db_refine_merge_spark.operators.merge import merge_upsert_partitioned
from scraper_db_refine_merge_spark.streaming.runner import drain, land_batches
from scraper_db_refine_merge_spark.streaming.store import read_table


def _mk_batch(spark, rows):
    return spark.createDataFrame(rows, "event_id string, day string, value double")


def _table(spark, target):
    return {
        (r["event_id"], str(r["day"]), r["value"])
        for r in read_table(spark, target).collect()
    }


def _mapping(target):
    """partition-dir name -> its part entry in the live manifest."""
    entry = st._manifest_of(st.store_version_dir(target))[st._DEFAULT]
    return {p.rsplit("/", 1)[1]: p for p in entry["parts"]}


def _files_with_mtimes(target: str, part: str) -> dict[str, float]:
    d = os.path.join(target, st._PARTS, _mapping(target)[part])
    return {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d) if f.endswith(".parquet")}


def _sole_log_entry(target: str) -> str:
    entries = st._commitlog_entries(target)
    assert len(entries) == 1
    return os.path.join(target, st._COMMITLOG, entries[0][1])


def test_partitioned_merge_rewrites_only_touched_partitions(spark, tmp_path):
    target = str(tmp_path / "events_by_day")
    merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [
            ("e1", "2024-01-01", 1.0),
            ("e2", "2024-01-01", 2.0),
            ("e3", "2024-01-02", 3.0),
            ("e4", "2024-01-03", 4.0),
        ]),
        key_cols=["event_id"], partition_col="day",
    )
    untouched_before = {
        p: _files_with_mtimes(target, f"day={p}") for p in ("2024-01-02", "2024-01-03")
    }

    # batch: update e1 (2024-01-01), insert e5 into a NEW partition; e1 has a
    # within-batch duplicate that latest-wins must resolve first
    batch = spark.createDataFrame(
        [
            ("e1", "2024-01-01", 10.0, 1),
            ("e1", "2024-01-01", 99.0, 2),  # newer → wins
            ("e5", "2024-01-04", 5.0, 1),
        ],
        "event_id string, day string, value double, __ord int",
    )
    touched = merge_upsert_partitioned(
        spark,
        target,
        batch,
        key_cols=["event_id"],
        partition_col="day",
        order_cols=[F.col("__ord").desc(), F.col("event_id")],
    )
    assert touched == ["2024-01-01", "2024-01-04"]

    # untouched partitions: identical files, identical mtimes — never rewritten
    for p, before in untouched_before.items():
        assert _files_with_mtimes(target, f"day={p}") == before

    out = {
        r["event_id"]: r["value"]
        for r in read_table(spark, target).select("event_id", "value").collect()
    }
    assert out == {"e1": 99.0, "e2": 2.0, "e3": 3.0, "e4": 4.0, "e5": 5.0}


def test_partitioned_merge_key_moving_partition_keeps_one_row(spark, tmp_path):
    """A key whose partition value changes between commits must leave its
    old partition: the partition holding the key's old row is rewritten
    (here emptied and dropped from the manifest) alongside the new one."""
    target = str(tmp_path / "moves")
    merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "2024-01-01", 1.0), ("e2", "2024-01-03", 2.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    untouched = _files_with_mtimes(target, "day=2024-01-03")
    touched = merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "2024-01-02", 9.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    t = read_table(spark, target)
    assert t.filter(F.col("event_id") == "e1").count() == 1
    assert touched == ["2024-01-01", "2024-01-02"]
    assert _table(spark, target) == {("e1", "2024-01-02", 9.0), ("e2", "2024-01-03", 2.0)}
    assert sorted(_mapping(target)) == ["day=2024-01-02", "day=2024-01-03"]
    assert _files_with_mtimes(target, "day=2024-01-03") == untouched


def test_partitioned_merge_rejects_null_partition_values(spark, tmp_path):
    """NULL partition values would land in __HIVE_DEFAULT_PARTITION__ and
    can't be pruned by isin(touched) — must be rejected at entry."""
    batch = spark.createDataFrame(
        [("e1", "2024-01-01", 1.0), ("e2", None, 2.0)],
        "event_id string, day string, value double",
    )
    with pytest.raises(ValueError, match="NULL"):
        merge_upsert_partitioned(
            spark, str(tmp_path / "t"), batch, key_cols=["event_id"], partition_col="day"
        )


def test_pointer_layout_upsert_roundtrip(spark, tmp_path):
    """Fresh target → commit log + parts manifest; upserts update/insert
    across partitions; untouched partitions keep their part entry."""
    target = str(tmp_path / "pt")
    merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "d1", 1.0), ("e2", "d2", 2.0), ("e3", "d3", 3.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    assert st.pointer_exists(target)
    view1 = st.store_version_dir(target)
    map1 = _mapping(target)

    touched = merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "d1", 10.0), ("e4", "d4", 4.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    assert touched == ["d1", "d4"]
    assert _table(spark, target) == {
        ("e1", "d1", 10.0), ("e2", "d2", 2.0), ("e3", "d3", 3.0), ("e4", "d4", 4.0),
    }
    # untouched partition resolves to the SAME immutable part dir
    assert st.store_version_dir(target) != view1
    assert _mapping(target)["day=d2"] == map1["day=d2"]


def test_plain_hive_target_is_refused(spark, tmp_path):
    """A non-empty directory without a commit log (written by partitionBy
    directly) is not re-laid-out under its readers: the merge raises and
    commits nothing."""
    target = str(tmp_path / "plain")
    _mk_batch(spark, [("e1", "d1", 1.0), ("e2", "d2", 2.0)]).write.partitionBy(
        "day"
    ).parquet(target)
    before = sorted(os.listdir(target))
    with pytest.raises(ValueError, match="without a commit log"):
        merge_upsert_partitioned(
            spark, target, _mk_batch(spark, [("e1", "d1", 9.0)]),
            key_cols=["event_id"], partition_col="day",
        )
    assert sorted(os.listdir(target)) == before


def test_crashed_first_commit_retries_cleanly(spark, tmp_path, monkeypatch):
    """A writer dying before the first log entry leaves only this layout's
    own orphans (parts/, v-*/): the retry commits as a fresh table and GCs
    them."""
    target = str(tmp_path / "pt")

    def crash(*a, **k):
        raise RuntimeError("injected crash before the first log entry")

    monkeypatch.setattr(st, "put_pointer", crash)
    with pytest.raises(RuntimeError, match="injected"):
        merge_upsert_partitioned(
            spark, target, _mk_batch(spark, [("e1", "d1", 1.0)]),
            key_cols=["event_id"], partition_col="day",
        )
    monkeypatch.undo()
    assert read_table(spark, target) is None

    merge_upsert_partitioned(
        spark, target, _mk_batch(spark, [("e1", "d1", 2.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    assert _table(spark, target) == {("e1", "d1", 2.0)}
    assert len([d for d in os.listdir(target) if d.startswith("v-")]) == 1
    assert len(os.listdir(os.path.join(target, st._PARTS))) == 1


def test_pointer_layout_hive_escaped_partition_values(spark, tmp_path):
    """Partition values the hive writer percent-escapes (':' in a
    timestamp-like string) must round-trip: the commit maps the dirs the
    staged write PRODUCED, never names constructed from str(value)."""
    target = str(tmp_path / "esc")
    merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "2025-05-05 21:30:00", 1.0), ("e2", "plain", 2.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    assert _table(spark, target) == {
        ("e1", "2025-05-05 21:30:00", 1.0), ("e2", "plain", 2.0),
    }
    # upsert into the escaped partition: new value wins, nothing stale kept
    merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "2025-05-05 21:30:00", 9.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    assert _table(spark, target) == {
        ("e1", "2025-05-05 21:30:00", 9.0), ("e2", "plain", 2.0),
    }
    assert any("%3A" in name for name in _mapping(target))  # escaping really happened


# ----------------------------------------------------------------------
# r15 (ADVICE r14, medium): a commit log naming no intact view must fail
# the WRITER loudly — re-initializing over it would let post-commit GC
# delete every prior version and part. Readers keep returning None (safe).


@pytest.mark.parametrize("corruption", ["", "v-999999-deadbeef"])
def test_pointer_corruption_blocks_writer_not_reader(spark, tmp_path, corruption):
    """A torn ("") or dangling sole log entry."""
    target = str(tmp_path / "pt")
    merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "d1", 1.0), ("e2", "d2", 2.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    entry = _sole_log_entry(target)
    with open(entry) as f:
        committed = f.read()
    with open(entry, "w") as f:
        f.write(corruption)

    # reader: safe None, no raise
    assert st.store_version_dir(target) is None
    assert read_table(spark, target) is None

    # writer: refuses — and leaves every prior commit dir on disk
    dirs_before = sorted(os.listdir(target))
    with pytest.raises(st.StoreCorruptPointerError, match="no entry names an intact"):
        merge_upsert_partitioned(
            spark, target,
            _mk_batch(spark, [("e9", "d9", 9.0)]),
            key_cols=["event_id"], partition_col="day",
        )
    assert sorted(os.listdir(target)) == dirs_before

    # recovery: restoring the entry brings the old snapshot back intact
    with open(entry, "w") as f:
        f.write(committed)
    assert _table(spark, target) == {("e1", "d1", 1.0), ("e2", "d2", 2.0)}
    merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e9", "d9", 9.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    assert _table(spark, target) == {
        ("e1", "d1", 1.0), ("e2", "d2", 2.0), ("e9", "d9", 9.0),
    }


@pytest.mark.parametrize("corruption", ["", "v-999999-deadbeef"])
def test_store_pointer_corruption_blocks_writers(spark, tmp_path, corruption):
    target = str(tmp_path / "store")
    st.store_commit_parts({"t": spark.createDataFrame([(1,)], "k long")}, target)

    with open(_sole_log_entry(target), "w") as f:
        f.write(corruption)

    assert read_table(spark, target, "t") is None  # reader: safe None

    df = spark.createDataFrame([(2,)], "k long")
    with pytest.raises(st.StoreCorruptPointerError):
        st.store_commit_parts({"t": df}, target)
    with pytest.raises(st.StoreCorruptPointerError):
        st.store_commit(df, target)
    with pytest.raises(st.StoreCorruptPointerError):
        st.store_compact(spark, target)


# ----------------------------------------------------------------------
# r15 (VERDICT r14 item 5): the parts manifest is the symlink-free format
# for filesystems without symlinks (object stores). It must behave
# identically with os.symlink DISABLED end to end.


@pytest.fixture
def no_symlinks(monkeypatch):
    """Simulate a symlink-free filesystem (object-store-like): any
    os.symlink call raises."""
    def refuse(*a, **k):
        raise OSError("symlinks not supported on this filesystem")

    monkeypatch.setattr(os, "symlink", refuse)


def test_manifest_layout_roundtrip_without_symlinks(spark, tmp_path, no_symlinks):
    """The parts manifest on a symlink-free FS; upserts update/insert
    across partitions; untouched partitions' part dirs are reused, not
    rewritten."""
    target = str(tmp_path / "pt")
    merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "d1", 1.0), ("e2", "d2", 2.0), ("e3", "d3", 3.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    view1 = st.store_version_dir(target)
    assert os.listdir(view1) == [st._MANIFEST]  # a version holds no data
    map1 = _mapping(target)

    touched = merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "d1", 10.0), ("e4", "d4", 4.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    assert touched == ["d1", "d4"]
    assert _table(spark, target) == {
        ("e1", "d1", 10.0), ("e2", "d2", 2.0), ("e3", "d3", 3.0), ("e4", "d4", 4.0),
    }
    map2 = _mapping(target)
    assert map2["day=d2"] == map1["day=d2"]  # untouched → same immutable part
    assert map2["day=d1"] != map1["day=d1"]


def test_manifest_layout_crash_during_manifest_write(spark, tmp_path, monkeypatch, no_symlinks):
    """Kill the writer mid-manifest: readers stay on the old snapshot,
    retry commits cleanly."""
    target = str(tmp_path / "pt")
    merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "d1", 1.0), ("e2", "d2", 2.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    before = _table(spark, target)
    view_before = st.store_version_dir(target)

    real_dump = st.json.dump

    def crashing_dump(obj, fh, *a, **k):
        if os.path.basename(fh.name) == st._MANIFEST:
            fh.write('{"default": {"parts": ["p-tor')  # torn partial write
            raise OSError("injected crash mid-manifest")
        return real_dump(obj, fh, *a, **k)

    monkeypatch.setattr(st.json, "dump", crashing_dump)
    with pytest.raises(OSError, match="injected crash"):
        merge_upsert_partitioned(
            spark, target,
            _mk_batch(spark, [("e1", "d1", 99.0), ("e4", "d4", 4.0)]),
            key_cols=["event_id"], partition_col="day",
        )
    monkeypatch.setattr(st.json, "dump", real_dump)

    assert st.store_version_dir(target) == view_before
    assert _table(spark, target) == before

    merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "d1", 99.0), ("e4", "d4", 4.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    assert _table(spark, target) == {
        ("e1", "d1", 99.0), ("e2", "d2", 2.0), ("e4", "d4", 4.0),
    }
    assert len([d for d in os.listdir(target) if d.startswith("v-")]) == 1  # orphan GC'd


def test_manifest_layout_pointer_corruption_blocks_writer(spark, tmp_path, no_symlinks):
    """Several log entries, none intact (a torn top above a dangling one):
    the fallback walks the whole log, finds nothing, and the writer
    refuses."""
    target = str(tmp_path / "pt")
    merge_upsert_partitioned(
        spark, target, _mk_batch(spark, [("e1", "d1", 1.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    with open(_sole_log_entry(target), "w") as f:
        f.write("v-000001-deadbeef")
    open(os.path.join(target, st._COMMITLOG, "c-000002"), "w").close()
    assert read_table(spark, target) is None
    with pytest.raises(st.StoreCorruptPointerError, match="no entry names an intact"):
        merge_upsert_partitioned(
            spark, target, _mk_batch(spark, [("e2", "d2", 2.0)]),
            key_cols=["event_id"], partition_col="day",
        )


def test_manifest_empty_mapping_raises_descriptive_error(spark, tmp_path, no_symlinks):
    """r16 ADVICE: a hand-truncated/corrupt _MANIFEST.json listing no
    parts for the table must surface as a descriptive error, not a bare
    error from an empty read."""
    target = str(tmp_path / "pt")
    merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "d1", 1.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    mpath = os.path.join(st.store_version_dir(target), st._MANIFEST)
    with open(mpath) as f:
        manifest = json.load(f)
    manifest[st._DEFAULT]["parts"] = []
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    with pytest.raises(RuntimeError, match="maps no parts"):
        read_table(spark, target)


@pytest.mark.slow
def test_stream_ingest_partitioned_merge(spark, tmp_path):
    """Partition-pruned streaming MERGE: cross-batch re-scrape updates in
    place, table lands hive-partitioned by event_date."""
    from scraper_db_refine_merge_spark.streaming.pipeline import stream_ingest

    landing = str(tmp_path / "landing")
    base = {
        "title": "Party A", "url": "u", "venue": "amnesia", "date_text": "5 May 2025",
        "lineup": [], "price_text": "10€", "genres": [], "description": "v1",
        "scraped_at": "2025-05-01T00:00:00Z",
    }
    rescrape = dict(base, description="v2", scraped_at="2025-05-02T00:00:00Z")
    other = dict(base, title="Party B", date_text="6 May 2025")
    land_batches(landing, [[base], [rescrape, other]])

    target = str(tmp_path / "events")
    q = stream_ingest(
        spark, landing, target, str(tmp_path / "ck"),
        metrics_path=str(tmp_path / "m"), max_files_per_trigger=1,
        partition_by_event_date=True,
    )
    drain(q, timeout_s=120)

    from scraper_db_refine_merge_spark.streaming import store as st

    t = st.read_table(spark, target)
    rows = {r["title"]: r for r in t.collect()}
    assert set(rows) == {"Party A", "Party B"}
    assert rows["Party A"]["content"]["full_description"] == "v2"  # latest won
    # hive partitions in the live snapshot's manifest: one per event date
    entry = st._manifest_of(st.store_version_dir(target))[st._DEFAULT]
    parts = sorted(p.rsplit("/", 1)[1] for p in entry["parts"])
    assert parts == ["event_date=2025-05-05", "event_date=2025-05-06"]
