"""Cache lifecycle for operator-internal persisted indexes.

Several operators materialize a small intermediate index with ``persist()``
(the MinHash signature/candidate tables in ``operators/dedup.py``, the LSH
bucket table in ``operators/similarity.py``). Spark ties cached blocks to
the *plan*, so repeated calls with identical inputs reuse the same cache —
but a long-lived session that calls these operators over MANY different
inputs accumulates cached blocks in executor storage (ADVICE r4).

CALLERS OWN THE CACHE LIFECYCLE: every operator-internal persist goes
through :func:`persist_tracked`, and a pipeline should release its caches
once its results are fully materialized (after the terminal action —
unpersisting earlier would re-trigger the work the cache exists to avoid,
because the returned DataFrames are lazy views over the cached tables).

Scoping (ADVICE r5): the registry is PER-THREAD, and within a thread can
be further scoped with :func:`cache_scope`. A process-global
drain-everything registry would let one pipeline's ``release_caches()``
unpersist caches a concurrently-running pipeline (e.g. the 4 driver
threads of ``bench.py --throughput``) still relies on — blocking=False
makes that recompute-only rather than wrong, but it silently defeats the
persist. With a thread-local registry, a caller can only ever release the
caches its own thread created; interleaved pipelines in one thread use
``cache_scope()`` to release just their own.

Repeated identical operator calls register one entry per call; releasing
both is harmless (the second unpersist of an already-unpersisted plan is a
no-op in Spark).

The module also owns the engine's one MEMO (:func:`memo`/:func:`forget`)
for driver-side probes and trained artifacts — work that must run once per
session, not once per plan build.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame

_tls = threading.local()

# Every thread's scope stack, for the session-teardown escape hatch
# (ADVICE r6): a pooled worker thread that never calls release_caches()
# itself would otherwise leak its executor-storage caches until JVM exit.
# Guarded by _all_lock; stacks are appended once per thread and never
# removed (a handful of list objects per thread — negligible).
_all_lock = threading.Lock()
_all_stacks: list[list] = []


def _registry() -> list:
    """This thread's scope stack; index 0 is the thread's root registry."""
    st = getattr(_tls, "scopes", None)
    if st is None:
        st = _tls.scopes = [[]]
        with _all_lock:
            _all_stacks.append(st)
    return st


def persist_tracked(df: DataFrame) -> DataFrame:
    """``df.persist()`` registered in the innermost active scope of the
    CALLING THREAD's cache registry."""
    df = df.persist()
    # Resolve the registry BEFORE taking the lock: _registry() itself
    # acquires _all_lock on a thread's first call, and the lock is not
    # reentrant. The append itself happens under _all_lock so _drain()'s
    # copy-and-clear swap can never lose a concurrent registration.
    reg = _registry()
    with _all_lock:
        reg[-1].append(df)
    return df


def _drain(entries: list) -> list:
    """Atomically take ownership of an entry list's contents (ADVICE r7):
    swap-under-lock so two drainers (a thread's own ``release_caches`` vs
    the teardown ``release_all_threads``) each unpersist a disjoint set —
    no pop/pop race, no double-unpersist."""
    with _all_lock:
        drained = entries[:]
        entries.clear()
    return drained


@contextmanager
def cache_scope():
    """Scope operator caches to a pipeline: every ``persist_tracked`` on
    this thread inside the ``with`` block is unpersisted on exit — other
    pipelines' caches (other scopes, other threads) are untouched.

    Unpersist-on-exit implies the pipeline's results must be materialized
    INSIDE the block (collect/write/count) — exiting with only a lazy
    DataFrame in hand would recompute the cached work on first action.
    """
    entries: list[DataFrame] = []
    st = _registry()
    with _all_lock:
        st.append(entries)
    try:
        yield
    finally:
        with _all_lock:
            # Remove by IDENTITY, not equality (ADVICE r8): list.remove()
            # removes the first element that compares EQUAL, and a scope
            # that persisted nothing has entries == [] — equal to the
            # thread's root registry at index 0, which remove() would
            # delete instead, corrupting the stack (later persists would
            # land in this already-exited scope and leak past it).
            for i in range(len(st) - 1, -1, -1):
                if st[i] is entries:
                    del st[i]
                    break
        for df in _drain(entries):
            df.unpersist()


def release_caches() -> int:
    """Unpersist every cache tracked by the CALLING THREAD (all scopes);
    returns how many were freed.

    Safe to call at any time — blocking=False, so in-flight jobs that still
    read a cached block simply recompute it. Never touches other threads'
    registries (single-thread sessions keep the old drain-all behavior,
    since everything lives in that one thread's registry).
    """
    n = 0
    for entries in _registry():
        for df in _drain(entries):
            df.unpersist()
            n += 1
    return n


def release_all_threads() -> int:
    """Session-teardown escape hatch (ADVICE r6): unpersist every cache
    tracked by ANY thread's registry; returns how many were freed.

    For the main thread draining after a worker pool finished (e.g.
    ``bench.py --throughput``'s 4 streams) — pooled workers that wrap their
    work in ``cache_scope()`` never need this. Safe against a still-running
    pipeline (ADVICE r7): each entry list is atomically swapped out under
    ``_all_lock`` (see :func:`_drain`), so a concurrent ``release_caches``
    or ``cache_scope`` exit unpersists a disjoint set — no IndexError, no
    double-unpersist. Releasing a cache an in-flight job still reads only
    forces a recompute (blocking=False), so the remaining cost of calling
    this mid-pipeline is performance, not correctness.
    """
    n = 0
    with _all_lock:
        # Snapshot stacks AND their entry lists: a cache_scope exit may
        # remove a list from its stack concurrently, but the list object
        # itself stays drainable.
        lists = [entries for st in _all_stacks for entries in st]
    for entries in lists:
        for df in _drain(entries):
            df.unpersist()
            n += 1
    return n


# Driver-side probe/artifact memo: {owner: {key: value}}. The owner is a
# DataFrame (probe results and trained state of that frame OBJECT — a
# rebuilt frame misses) or a SparkSession (loaded tables, views, per-lineage
# sizes); WeakKeyDictionary, so entries die with their owner. Owners are
# assumed static for their lifetime: a caller over mutating files passes a
# fresh frame (re-``load_table``) or calls :func:`forget`.
_memos: "WeakKeyDictionary[object, dict]" = WeakKeyDictionary()
_MISSING = object()


def memo(owner, key, build):
    """``build()`` memoized per (owner, key). Callers namespace their own
    key (e.g. ``("dim", vec_col)``). A ``None`` result is stored; a
    ``build()`` that raises stores nothing, so the next call retries."""
    per = _memos.get(owner)
    value = _MISSING if per is None else per.get(key, _MISSING)
    if value is _MISSING:
        value = build()
        _memos.setdefault(owner, {})[key] = value
    return value


def forget(owner=None) -> None:
    """Drop every memo of ``owner`` (its next probe or training re-runs);
    ``owner=None`` drops all memos."""
    if owner is None:
        _memos.clear()
    else:
        _memos.pop(owner, None)
