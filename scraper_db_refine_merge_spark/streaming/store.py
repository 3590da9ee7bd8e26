"""Crash-safe versioned parquet store for incrementally-maintained state
(sketch register tables, incremental connected-components assignments),
and the commit protocol of every VERSIONED table — these stores and the
partitioned merge (operators/merge.py merge_upsert_partitioned).

The r4 pattern — rename(target, backup); rename(staging, target) — had a
crash window between the two renames that left the store MISSING with
orphaned backup/staging dirs (ADVICE r4). A versioned table instead has
exactly ONE committing operation, and it is not a rename:

    target_path/
        _commits/c-<seq>     <- commit log: entry N names version N
        v-<seq>-<uuid>/      <- immutable parquet snapshot (+ marker files)

A writer materializes a new ``v-*`` snapshot, then commits it by an
EXCLUSIVE CREATE of ``_commits/c-<seq>`` (``O_CREAT|O_EXCL`` here;
conditional put / If-None-Match on a real object store — the
put-if-absent primitive S3/GCS/ABFS all expose, and the same one Delta
Lake's S3 LogStore builds on). No rename and no symlink is involved, so
the protocol holds on object stores as well as POSIX.

- Readers resolve the HIGHEST INTACT entry. Entries are immutable once
  written, so a crashed writer leaves at worst an empty/dangling TOP
  entry, which resolution skips — the previous entry still IS the
  committed state. A log that exists but names no intact version is
  corruption: readers get None, writers raise
  ``StoreCorruptPointerError`` instead of committing over it.
- A crash before the put leaves the previous entry, and therefore the
  previous snapshot, fully intact; orphaned snapshots and superseded log
  entries are garbage-collected by the next successful commit.

SINGLE-WRITER CONTRACT (ADVICE r5): at most one committer per store at a
time. Two writers deriving the same next seq from the same prior
snapshot collide on the same entry name; the loser's exclusive create
fails and it raises ``StoreConcurrentWriterError`` BEFORE its state
becomes visible, so a lost update is a loud failure instead of silent
state corruption. Streaming callers satisfy the contract by construction
(foreachBatch serializes batches); batch callers (fold_components,
fold_minhash_index) own one store per pipeline.

Incremental multi-part snapshots (ADVICE r5): ``store_commit_parts``
appends ONLY the new batch's rows as immutable part directories under
``parts/`` and commits a MANIFEST listing the accumulated parts per table
— per-commit write I/O is O(batch), not O(total state), while the log
entry remains the single commit. GC keeps every part referenced by a
retained manifest.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

_MANIFEST = "_MANIFEST.json"
_PARTS = "parts"
_COMMITLOG = "_commits"


class StoreConcurrentWriterError(RuntimeError):
    """Another writer committed the log entry this writer derived — the
    single-writer contract was violated and this writer's merge may be
    lost."""


class StoreCorruptPointerError(RuntimeError):
    """A commit log exists but no entry names an intact snapshot (torn
    entries or dangling version names). Writers must NOT treat this as a
    fresh store: committing would produce a truncated snapshot and
    post-commit GC would then delete every prior commit — recoverable
    corruption (point the top entry at the latest intact v-*/ dir) turned
    into permanent loss."""


def _commitlog_entries(target_path: str) -> list[tuple[int, str]]:
    """CAS commit-log entries as (seq, filename), ascending."""
    d = os.path.join(target_path, _COMMITLOG)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if not name.startswith("c-"):
            continue
        try:
            out.append((int(name.split("-")[1]), name))
        except (IndexError, ValueError):
            continue
    return sorted(out)


def pointer_exists(target_path: str) -> bool:
    """Has any commit ever been attempted on this path (log non-empty)?"""
    return bool(_commitlog_entries(target_path))


def resolve_pointer_name(target_path: str) -> str | None:
    """Committed version NAME, or None.

    Crashed TOP log entries (empty content / naming no directory) are
    SKIPPED down to the last intact entry: the log is append-only, so an
    incomplete top entry means that commit never finished and the previous
    entry is the true committed state."""
    log_dir = os.path.join(target_path, _COMMITLOG)
    for _, name in reversed(_commitlog_entries(target_path)):
        with open(os.path.join(log_dir, name)) as f:
            version = f.read().strip()
        if version and os.path.isdir(os.path.join(target_path, version)):
            return version
    return None


def store_version_dir(target_path: str) -> str | None:
    """Absolute path of the live snapshot dir, or None if no commit yet."""
    version = resolve_pointer_name(target_path)
    if version is None:
        return None
    d = os.path.join(target_path, version)
    return d if os.path.isdir(d) else None


def store_exists(target_path: str) -> bool:
    return store_version_dir(target_path) is not None


def store_read(spark: SparkSession, target_path: str) -> DataFrame | None:
    """The live snapshot as a DataFrame, or None if the store is empty."""
    d = store_version_dir(target_path)
    return spark.read.parquet(d) if d is not None else None


def store_marker(target_path: str, name: str) -> str | None:
    """Contents of marker file ``name`` in the live snapshot, or None.

    Markers are written into the snapshot BEFORE the pointer commit, so a
    marker and the state it describes become visible atomically (the
    exactly-once batch-id guard for non-idempotent sketch merges).
    """
    d = store_version_dir(target_path)
    if d is None:
        return None
    p = os.path.join(d, name)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return f.read().strip()


def store_versions(target_path: str) -> list[tuple[int, str]]:
    """Committed snapshots as (seq, dirname), ascending — the time-travel
    index. Only the current snapshot and those below its seq count as
    committed: a crashed writer's orphan sits at or above the current seq
    (the retry derives the SAME seq as the crash) and is never listed."""
    cur = store_version_dir(target_path)
    if cur is None:
        return []
    cur_name = os.path.basename(cur)
    cur_seq = _seq_of(cur_name)
    if cur_seq is None:  # not a v-<seq>-<uuid> name: no time-travel index
        return []
    out = []
    for name in os.listdir(target_path):
        if name.startswith("v-") and os.path.isdir(os.path.join(target_path, name)):
            seq = _seq_of(name)
            if seq is not None and (seq < cur_seq or name == cur_name):
                out.append((seq, name))
    return sorted(out)


def store_read_version(spark: SparkSession, target_path: str, seq: int) -> DataFrame | None:
    """Time travel: snapshot ``seq`` (1-based commit number), or None if it
    was garbage-collected or never committed."""
    for s, name in store_versions(target_path):
        if s == seq:
            return spark.read.parquet(os.path.join(target_path, name))
    return None


def _seq_of(version_name: str) -> int | None:
    parts = version_name.split("-")
    try:
        return int(parts[1])
    except (IndexError, ValueError):
        return None


def _version_dir_for_write(target_path: str) -> str | None:
    """store_version_dir for WRITER paths: raises StoreCorruptPointerError
    when a commit log exists but no entry names an intact snapshot, instead
    of letting the writer re-initialize over it (ADVICE r14, medium).
    Readers keep the safe None path in store_version_dir."""
    d = store_version_dir(target_path)
    if d is None and pointer_exists(target_path):
        raise StoreCorruptPointerError(
            f"store {target_path}: a commit log exists but no entry names an "
            "intact snapshot directory — refusing to commit as if the store "
            "were fresh. Point the top _commits/c-* entry at the latest "
            "intact v-*/ dir or delete the store directory to reset."
        )
    return d


def _new_version(target_path: str) -> str:
    os.makedirs(target_path, exist_ok=True)
    prior = _version_dir_for_write(target_path)
    seq = (_seq_of(os.path.basename(prior)) or 0) + 1 if prior else 1
    return f"v-{seq:06d}-{uuid.uuid4().hex[:8]}"


def _write_markers(vd: str, markers: dict[str, str] | None) -> None:
    for name, value in (markers or {}).items():
        with open(os.path.join(vd, name), "w") as f:
            f.write(value)


def _manifest_of(vd: str) -> dict[str, list[str]] | None:
    mpath = os.path.join(vd, _MANIFEST)
    if not os.path.exists(mpath):
        return None
    with open(mpath) as f:
        return json.load(f)


def put_pointer(target_path: str, version: str) -> None:
    """Commit ``version`` as the live snapshot name: exclusive create of
    its commit-log entry. The ONLY mutation readers can observe in any
    versioned commit path — shared by this store and the partitioned merge
    (operators/merge.py)."""
    log_dir = os.path.join(target_path, _COMMITLOG)
    os.makedirs(log_dir, exist_ok=True)
    entry = os.path.join(log_dir, f"c-{_seq_of(version) or 0:06d}")
    if os.path.exists(entry):
        # an existing entry at OUR seq is either a crashed writer's torn
        # put (empty / naming no dir — safe to clear under the
        # single-writer contract) or a competing writer's real commit
        with open(entry) as f:
            existing = f.read().strip()
        if existing and os.path.isdir(os.path.join(target_path, existing)):
            raise StoreConcurrentWriterError(
                f"store {target_path}: commit log already holds {existing!r} "
                f"at the seq derived for {version!r} — this store is "
                "single-writer; this writer merged from a stale snapshot"
            )
        os.remove(entry)
    # THE commit: exclusive create = conditional put. On a real object
    # store this maps to If-None-Match; a losing racer fails HERE, before
    # its snapshot is ever visible.
    try:
        fd = os.open(entry, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
    except FileExistsError:
        raise StoreConcurrentWriterError(
            f"store {target_path}: another writer created the commit-log "
            f"entry for {version!r} first — this store is single-writer"
        ) from None
    try:
        os.write(fd, version.encode())
        os.fsync(fd)
    finally:
        os.close(fd)


def _commit_pointer(target_path: str, version: str, keep: int) -> None:
    """THE commit: one log entry (``put_pointer``), then GC of superseded
    log entries, snapshots beyond the retention window, crashed-writer
    orphans (at or above the committed seq), and ``parts/`` directories no
    retained manifest references (best-effort — a concurrent reader
    holding an old dir open on POSIX keeps its fds)."""
    put_pointer(target_path, version)
    # resolution only reads down from the top intact entry, and retained
    # history lives in the v-*/ dirs themselves: older entries are clutter
    log_dir = os.path.join(target_path, _COMMITLOG)
    for seq, name in _commitlog_entries(target_path):
        if seq < (_seq_of(version) or 0):
            try:
                os.remove(os.path.join(log_dir, name))
            except OSError:
                pass
    keep_names = {version} | {
        name for _, name in sorted(store_versions(target_path), reverse=True)[:keep]
    }
    for name in os.listdir(target_path):
        if name.startswith("v-") and name not in keep_names:
            shutil.rmtree(os.path.join(target_path, name), ignore_errors=True)
    # parts GC: drop part dirs referenced by NO retained manifest (orphans
    # from crashed writers and parts owned only by retention-expired
    # snapshots). Parts referenced by any kept version stay — snapshots
    # share immutable parts, that is the whole point.
    parts_root = os.path.join(target_path, _PARTS)
    if os.path.isdir(parts_root):
        referenced: set[str] = set()
        for name in keep_names:
            m = _manifest_of(os.path.join(target_path, name))
            if m:
                for plist in m.values():
                    referenced.update(plist)
        for pname in os.listdir(parts_root):
            if pname not in referenced:
                shutil.rmtree(os.path.join(parts_root, pname), ignore_errors=True)


def _sized_for_write(df: DataFrame) -> DataFrame:
    """Size output files at the store's write boundary (r17, guide §6).

    Every store write used to emit one file per partition of whatever
    partitioning the frame happened to arrive with — locally that is the
    32-partition AQE floor (coalescePartitions.parallelismFirst keeps
    shuffles at defaultParallelism), so each fold committed ~32 tiny files
    PER TABLE and every later fold re-listed and re-opened them all; a
    3-fold index store accumulated ~100 sub-MB files per table (measured:
    q113's COMPACTED tables were 32 files of 0.5-2.6 MB total). The
    REBALANCE hint routes the write through an AQE-sized exchange that
    both coalesces small partitions toward
    spark.sql.adaptive.advisoryPartitionSizeInBytes (64 MB here) AND
    splits oversized ones — the guide's prescribed write-sizing form, and
    scale-correct in both directions: tiny fold batches become one file,
    corpus-sized rewrites become ~64 MB files instead of one file per
    shuffle partition. Costs one exchange of the written bytes (O(batch)
    on the fold path, and the compaction path is by definition a rewrite).
    Measured honestly (r17): q113's store drops 92 → 8 parquet files
    across its 3 folds + compaction; WALL-NEUTRAL locally (interleaved
    fresh-process A/B, min-of-3 per arm: q113 21.6/20.5, q129 4.8/4.6,
    q131 4.9/5.0, q102 11.0/11.3 off/on, all within the loaded-host noise
    band) — the payoff is the layout contract at scale, where a listing
    is remote I/O and a fold's shuffle output would otherwise inherit
    whatever partition count the plan happened to end with.
    Applied only when AQE is on for the frame's session: without AQE the
    hint plans a plain round-robin exchange that sizes nothing (ADVICE
    r17). Row content is untouched — file layout only."""
    if df.sparkSession.conf.get("spark.sql.adaptive.enabled", "true").lower() != "true":
        return df
    return df.hint("rebalance")


def store_commit(
    df: DataFrame,
    target_path: str,
    markers: dict[str, str] | None = None,
    keep: int = 1,
) -> str:
    """Write ``df`` as a new snapshot and commit it (one log entry).

    Returns the committed snapshot dir. Marker filenames should start with
    ``_`` so Spark's parquet reader ignores them as metadata files.
    ``keep``: how many committed snapshots to retain (newest-first,
    current always included) — retention >1 enables time travel via
    ``store_read_version`` (snapshots are immutable, so an old reader and
    the GC never race on content, only on whole-directory lifetime).
    """
    version = _new_version(target_path)
    vd = os.path.join(target_path, version)
    _sized_for_write(df).write.mode("overwrite").parquet(vd)
    _write_markers(vd, markers)
    _commit_pointer(target_path, version, keep)
    return vd


def store_commit_parts(
    new_parts: dict[str, DataFrame],
    target_path: str,
    markers: dict[str, str] | None = None,
    keep: int = 1,
    replace_parts: dict[str, DataFrame] | None = None,
) -> str:
    """Incremental multi-part commit (ADVICE r5): write ONLY the new
    batch's rows — one immutable ``parts/p-*`` directory per table — and
    commit a manifest that lists each table's ACCUMULATED parts (prior
    manifest's lists + the new part). Readers union the listed parts.

    Per-commit write I/O is O(new batch), not O(total state) — the fix for
    fold-style callers whose accumulated tables grow with the corpus. The
    atomicity story is unchanged: all tables' new parts land under one
    manifest behind one log entry, so mutually-consistent multi-table
    state still moves together; a crash before the pointer commit leaves
    only unreferenced part dirs that the next successful commit GCs.

    Tables are APPEND-ONLY through ``new_parts``. ``replace_parts`` (r14)
    REPLACES the named tables' whole part list with the one new part, in
    the same atomic commit — the primitive for derived-state rewrites
    (index re-widening, store_compact's squash) where one table must be
    rebuilt while its siblings keep accumulating. A table may appear in
    only one of the two dicts.
    """
    replace_parts = replace_parts or {}
    overlap = set(new_parts) & set(replace_parts)
    if overlap:
        raise ValueError(
            f"store_commit_parts: tables {sorted(overlap)} passed as both "
            "new_parts (append) and replace_parts (rewrite)"
        )
    os.makedirs(os.path.join(target_path, _PARTS), exist_ok=True)
    prior = _version_dir_for_write(target_path)
    manifest: dict[str, list[str]] = {}
    if prior is not None:
        pm = _manifest_of(prior)
        if pm is None:
            # An empty starting manifest would silently DROP the prior
            # state (readers would see only the new batch, and GC would
            # then delete the old snapshot dir).
            raise ValueError(
                f"store {target_path}: live snapshot {prior!r} is a "
                "single-DataFrame store_commit snapshot — it has no named "
                "tables for a parts manifest. Use store_commit to keep "
                "updating it, or rebuild the store with store_commit_parts "
                "from scratch."
            )
        manifest = {k: list(v) for k, v in pm.items()}
    for name, df in new_parts.items():
        pname = f"p-{uuid.uuid4().hex[:12]}"
        _sized_for_write(df).write.mode("overwrite").parquet(os.path.join(target_path, _PARTS, pname))
        manifest.setdefault(name, []).append(pname)
    for name, df in replace_parts.items():
        # materialize the rewrite BEFORE the manifest drops the old parts:
        # the write is the action that reads them; after the pointer commit
        # the superseded parts become GC-able
        pname = f"p-rewrite-{uuid.uuid4().hex[:12]}"
        _sized_for_write(df).write.mode("overwrite").parquet(os.path.join(target_path, _PARTS, pname))
        manifest[name] = [pname]
    version = _new_version(target_path)
    vd = os.path.join(target_path, version)
    os.makedirs(vd)
    with open(os.path.join(vd, _MANIFEST), "w") as f:
        json.dump(manifest, f)
    _write_markers(vd, markers)
    _commit_pointer(target_path, version, keep)
    return vd


def store_compact(
    spark: SparkSession, target_path: str, keep: int = 1
) -> str | None:
    """Squash a multi-part store's accumulated parts (r14, VERDICT r13
    item 5): N folds leave N part dirs per table, so replay/read cost grows
    with fold count — fine for a harness, wrong at a year of daily batches.
    Each table whose manifest lists >1 parts is union-read and rewritten as
    ONE part; the new manifest commits behind the usual single log
    entry, and retention GC reclaims the small parts. Read results are
    row-identical by construction (readers union the listed parts — the
    union now has one member); markers are carried over so exactly-once
    batch guards survive compaction.

    Returns the committed snapshot dir; None for an empty store; the live
    dir unchanged when there is nothing to squash (already compact, or a
    single-frame ``store_commit`` snapshot with no manifest). Same
    single-writer contract as every commit. Time-travel note: compaction commits a NEW version —
    with ``keep=1`` older snapshots (and the fine-grained parts they
    reference) are reclaimed, so run it only when replay-from-parts is no
    longer needed, or raise ``keep``.
    """
    prior = _version_dir_for_write(target_path)
    if prior is None:
        return None
    manifest = _manifest_of(prior)
    if manifest is None or all(len(v) <= 1 for v in manifest.values()):
        return prior
    parts_root = os.path.join(target_path, _PARTS)
    new_manifest: dict[str, list[str]] = {}
    for name, plist in manifest.items():
        if len(plist) <= 1:
            new_manifest[name] = list(plist)
            continue
        df = spark.read.parquet(*[os.path.join(parts_root, p) for p in plist])
        pname = f"p-compact-{uuid.uuid4().hex[:12]}"
        _sized_for_write(df).write.mode("overwrite").parquet(os.path.join(parts_root, pname))
        new_manifest[name] = [pname]
    version = _new_version(target_path)
    vd = os.path.join(target_path, version)
    os.makedirs(vd)
    with open(os.path.join(vd, _MANIFEST), "w") as f:
        json.dump(new_manifest, f)
    for fname in os.listdir(prior):  # markers travel with their state
        src = os.path.join(prior, fname)
        if fname != _MANIFEST and os.path.isfile(src):
            shutil.copy2(src, os.path.join(vd, fname))
    _commit_pointer(target_path, version, keep)
    return vd


def _read_part_of_dir(
    spark: SparkSession, target_path: str, vd: str, part: str
) -> DataFrame | None:
    """Read one named table of snapshot dir ``vd``: the union of the
    immutable ``parts/`` dirs its manifest lists. A snapshot without a
    manifest (``store_commit``) has no named tables."""
    plist = (_manifest_of(vd) or {}).get(part) or []
    if not plist:
        return None
    return spark.read.parquet(*[os.path.join(target_path, _PARTS, p) for p in plist])


def store_read_part(spark: SparkSession, target_path: str, part: str) -> DataFrame | None:
    """Read one named table of the live multi-part snapshot, or None."""
    d = store_version_dir(target_path)
    if d is None:
        return None
    return _read_part_of_dir(spark, target_path, d, part)


def store_read_part_version(
    spark: SparkSession, target_path: str, part: str, seq: int
) -> DataFrame | None:
    """Time travel for multi-part snapshots: table ``part`` as of commit
    ``seq`` (1-based), or None if GC'd / never committed. Manifest
    snapshots resolve through their OWN manifest, so an old version sees
    exactly the parts list it committed — later appends are invisible to
    it, which is what makes snapshot diffs (drift reports, CDC) exact."""
    for s, name in store_versions(target_path):
        if s == seq:
            return _read_part_of_dir(
                spark, target_path, os.path.join(target_path, name), part
            )
    return None
