"""Keyed upsert MERGE (SURVEY S6/S7/J4/W3) over plain parquet.

The reference's merge layer is Mongo bulk ``UpdateOne(upsert=True)`` keyed by
event_id (data_migration.py:102-158, etl_sqlite_to_mongo.py:129-164,
scrapers_v2/utils.py:94-180). Here a merge is latest-wins within the batch
(W3, ``dedup.latest_per_key``'s ``row_number`` over the key — mandatory
before any MERGE to avoid a nondeterministic multi-match, SURVEY §7
hard-part 5), then left-anti + union against the target.

Each table shape commits through exactly one protocol:

- PLAIN-DIRECTORY tables — the whole-table ``merge_upsert`` and
  ``insert_if_absent`` here, ``rollup.fold_rollup`` and
  ``layout.compact``. These stay plain parquet directories because their
  readers scan the path directly (streaming consumers, report queries,
  benchmarks). They commit by staging the new table beside the target
  and swapping it in with two renames (``swap_plain_table``). The one
  unsafe moment — a crash between the two renames, which leaves no table
  at the path — is repaired by the next writer on entry
  (``recover_plain_table``): it renames the lone backup back and drops
  stale staging directories before reading the table.
- VERSIONED tables — ``merge_upsert_partitioned`` here. Its target is a
  streaming/store.py versioned table: a commit log whose entries name
  manifests of immutable ``parts/`` dirs, read back with
  ``store.read_table``. A merge writes the touched partitions as one new
  part and commits a manifest that replaces only those partitions'
  entries, behind one put-if-absent log entry. No rename and no symlink
  anywhere on this path, so it holds on object stores as well as POSIX.

MergeStats come from the commit job itself: row-count observations
(``DataFrame.observe``) on the batch, its latest-per-key rows, the target
and the target rows the anti-join keeps are filled in by the staging
write, so no job runs only to count.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .dedup import latest_per_key


@dataclass
class MergeStats:
    """Counters mirroring the reference's MigrationStats
    (data_migration.py:34-40)."""

    total_incoming: int
    within_batch_duplicates: int
    updated: int
    inserted: int
    target_rows_after: int


# ----------------------------------------------------------------------
# Plain-directory commit: staging write + two-rename swap, shared by
# merge_upsert, insert_if_absent, rollup.fold_rollup and layout.compact.

_BACKUP = ".__old__"
_STAGING = ".__staging__"
# staging suffixes a crashed writer may have left: this module's, plus the
# ones fold_rollup and compact staged under before they shared this helper
_STALE_STAGING = (_STAGING, ".__rollup__", ".__compact__")


def recover_plain_table(target_path: str) -> bool:
    """Entry step of every plain-directory writer; True if the table exists.

    Repairs what a crashed ``swap_plain_table`` left beside the target. A
    crash between its two renames leaves NO table at ``target_path`` and
    one ``{target}.__old__*`` backup, which is the last committed table:
    it is renamed back. Backups left by a crash after the second rename,
    and staging directories, are deleted. Single writer per table."""
    target = os.path.normpath(target_path)
    parent, base = os.path.split(os.path.abspath(target))
    backups, staging = [], []
    for name in os.listdir(parent) if os.path.isdir(parent) else []:
        if name.startswith(base + _BACKUP):
            backups.append(os.path.join(parent, name))
        elif name.startswith(tuple(base + s for s in _STALE_STAGING)):
            staging.append(os.path.join(parent, name))
    if backups and not os.path.exists(target):
        if len(backups) > 1:
            raise RuntimeError(
                f"plain table {target_path} is missing and {len(backups)} "
                f"backups exist ({sorted(backups)}) — refusing to guess which "
                "is the committed table; rename the right one to the table path"
            )
        os.rename(backups.pop(), target)
    for p in backups + staging:
        shutil.rmtree(p, ignore_errors=True)
    return os.path.exists(target)


def swap_plain_table(target_path: str, df: DataFrame) -> None:
    """Commit ``df`` as the plain parquet directory at ``target_path``:
    write it to a staging directory beside the target, rename the live
    table to a backup, rename the staging directory in, drop the backup.
    Readers see the old or the new table; the gap between the renames is
    closed by the next writer's ``recover_plain_table``."""
    target = os.path.normpath(target_path)
    tag = uuid.uuid4().hex[:8]
    staging = f"{target}{_STAGING}{tag}"
    df.write.mode("overwrite").parquet(staging)
    if os.path.exists(target):
        backup = f"{target}{_BACKUP}{tag}"
        os.rename(target, backup)
        os.rename(staging, target)
        shutil.rmtree(backup, ignore_errors=True)
    else:
        os.rename(staging, target)


def _counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row-count Observation attached: the count arrives with
    whatever action evaluates ``df``, no extra job."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def _count(obs: Observation) -> int:
    """The row count an observation saw. Adaptive execution drops a plan
    branch once it has proved the branch's input empty, and the branch's
    observation then reports an empty row (which ``Observation.get``
    cannot convert): that count is 0."""
    row = obs._jo.getRow()
    return row.getLong(0) if row.length() else 0


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    order_cols: list[Column] | None = None,
) -> MergeStats:
    """Upsert ``updates`` into the plain parquet table at ``target_path``.

    Semantics = Mongo's ``$set`` whole-document upsert (``WHEN MATCHED
    UPDATE SET * WHEN NOT MATCHED INSERT *``) with latest-wins inside the
    batch. Rewrites the whole table and commits it with
    ``swap_plain_table``.

    ``order_cols`` (default ``[key]``) ranks a key's rows within the
    batch; the first one wins. Make it a total order within a key for a
    deterministic winner: with the default, or any order whose columns are
    equal across a key's rows, the row kept among in-batch rows that share
    a key but differ in content is arbitrary. Byte-identical re-sends are
    unaffected.

    MergeStats are always returned; they cost no job of their own. The
    target is read through ``updates.sparkSession``, not ``spark``: a
    ``foreachBatch`` frame lives in the stream's cloned session, and the
    observations below fire only on the session that runs the write.
    """
    order_cols = order_cols or [F.col(key_cols[0])]
    session = updates.sparkSession
    updates, incoming = _counted(updates)
    deduped, batch_keys = _counted(latest_per_key(updates, key_cols, order_cols))
    merged, target_counts = deduped, ()
    if recover_plain_table(target_path):
        target, before = _counted(session.read.parquet(target_path))
        kept, after_anti = _counted(
            target.join(deduped.select(*key_cols), key_cols, "left_anti")
        )
        merged, target_counts = kept.unionByName(deduped), (before, after_anti)

    swap_plain_table(target_path, merged)
    n_in, n_keys = _count(incoming), _count(batch_keys)
    n_before, n_kept = (_count(o) for o in target_counts) if target_counts else (0, 0)
    updated = n_before - n_kept
    return MergeStats(
        total_incoming=n_in,
        within_batch_duplicates=n_in - n_keys,
        updated=updated,
        inserted=n_keys - updated,
        target_rows_after=n_kept + n_keys,
    )


def merge_upsert_partitioned(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str,
    order_cols: list[Column] | None = None,
) -> list[str]:
    """Partition-pruned upsert into a versioned hive-partitioned table.

    The whole-table ``merge_upsert`` rewrite is O(table) per batch — wrong
    cost model at 100 TB. Here only the touched partitions are rewritten:
    those the batch writes, plus those that hold one of the batch's keys
    (a key whose partition value changed leaves its old partition, so
    that partition loses the key's old row). Finding the second set reads
    the key and partition columns of the whole table, a column-pruned
    semi-join against the batch keys; every other column of an untouched
    partition is never read, and its files are never rewritten. Rewrite
    cost scales with the batch's data locality (a day's re-scrape rewrites
    that day), not with table size.

    Requirements: the partition column must be a stable string/date key.

    Atomicity: the touched partitions' new contents are written as one
    part (``parts/p-<id>/<col>=<v>``), and one commit-log entry publishes
    a manifest that lists them in place of the old entries of those
    partitions (streaming/store.py). A touched partition the merge emptied
    leaves the manifest. A crash anywhere mid-merge leaves readers on the
    previous version, matching the reference's per-doc-atomic Mongo upsert
    (database/data_migration.py:102-158) at whole-commit granularity.
    Read the table back with ``store.read_table(spark, target_path)``. A
    non-empty directory without a commit log (e.g. written by
    ``partitionBy`` directly) is refused with ``ValueError`` rather than
    silently re-laid-out under readers that scan it.

    Returns the list of partition values rewritten.
    """
    from ..streaming.store import (
        _COMMITLOG,
        _PARTS,
        _commit_partitions,
        _version_dir_for_write,
        read_table,
    )

    order_cols = order_cols or [F.col(key_cols[0])]
    deduped = latest_per_key(updates, key_cols, order_cols)
    keys = deduped.select(*key_cols)
    touched_rows = deduped.select(partition_col)

    # raises StoreCorruptPointerError when a log exists but names no intact
    # version: treating the table as fresh would commit merged=deduped and
    # GC would then delete every untouched partition (ADVICE r14)
    _version_dir_for_write(target_path)
    target = read_table(spark, target_path)
    if target is None:
        # a crashed FIRST commit leaves only this layout's own entries,
        # which the commit below GCs; anything else is someone's data
        own = (_PARTS, _COMMITLOG)
        if os.path.isdir(target_path) and any(
            n not in own and not n.startswith("v-") for n in os.listdir(target_path)
        ):
            raise ValueError(
                f"merge_upsert_partitioned: {target_path} is a non-empty "
                "directory without a commit log — not a table this function "
                "created; merge into a fresh path instead"
            )
    else:
        # A key can move partitions between commits; its old row stays in
        # the old partition unless that one is rewritten too. So partitions
        # holding a batch key are touched as well: a semi-join that reads
        # only the key and partition columns, in the same job as the
        # batch's own partitions.
        touched_rows = touched_rows.unionByName(
            target.select(*key_cols, partition_col)
            .join(keys, key_cols, "semi")
            .select(partition_col)
        )
    # small by construction (a batch has temporal/source locality), so
    # collect() is a driver-sized list
    touched = [r[0] for r in touched_rows.distinct().collect()]
    if not touched:
        return []
    # A NULL partition value would be written as __HIVE_DEFAULT_PARTITION__
    # and isin(touched) can't prune NULLs. Callers must coalesce to a
    # sentinel first (stream_ingest does).
    if any(v is None for v in touched):
        raise ValueError(
            f"merge_upsert_partitioned: NULL values in partition column "
            f"{partition_col!r}; coalesce to a sentinel before merging"
        )

    if target is None:
        merged = deduped
    else:
        # partition pruning: only touched partition directories are scanned
        affected = target.filter(F.col(partition_col).isin(touched))
        kept = affected.join(keys, key_cols, "left_anti")
        merged = kept.unionByName(deduped.select(*kept.columns))

    _commit_partitions(merged, target_path, partition_col, touched)
    return sorted(str(v) for v in touched)


def insert_if_absent(
    spark: SparkSession, target_path: str, new_rows: DataFrame, key_cols: list[str]
) -> int:
    """J9/U3 — anti-join insert (reference add_proxies_if_not_exist,
    ventura_crawler.py:386-398). Returns the number of rows added.

    Commits ``existing ∪ fresh`` with ``swap_plain_table`` after
    ``recover_plain_table``, like every plain-directory writer: a crash
    leaves the previous table, and a retry adds the same rows once. The
    count is an observation on the commit job, so the anti-join runs once.
    A call that adds no rows still rewrites the table. The table is read
    through ``new_rows.sparkSession``, as in ``merge_upsert``.
    """
    session = new_rows.sparkSession
    if recover_plain_table(target_path):
        existing = session.read.parquet(target_path)
        fresh, added = _counted(
            new_rows.join(existing.select(*key_cols), key_cols, "left_anti")
        )
        merged = existing.unionByName(fresh)
    else:
        merged, added = _counted(new_rows)
    swap_plain_table(target_path, merged)
    return _count(added)
