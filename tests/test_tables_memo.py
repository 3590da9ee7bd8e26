"""load_table per-session memo semantics (ADVICE r10): a transient
normalize_events failure must not pin the raw-path plan for the session,
and flipping SPARK_GRAFT_EVENTS_CACHE mid-session must take effect."""

from __future__ import annotations

import os

import pytest

from scraper_db_refine_merge_spark.operators._cache import forget, memo
from scraper_db_refine_merge_spark.sources import tables


def _memoized_events(spark, sf_dir, cache_on):
    """The session's memoized events frame for one toggle value; raises
    LookupError when there is none (a raising build stores nothing)."""

    def missing():
        raise LookupError(cache_on)

    return memo(spark, ("table", os.path.abspath(sf_dir), "events", cache_on), missing)


def test_events_cache_failure_not_memoized(spark, sf_dir, monkeypatch):
    forget(spark)

    def boom(s, d):
        raise OSError("transient: read-only tmp")

    monkeypatch.setattr(tables, "normalize_events", boom)
    monkeypatch.setenv("SPARK_GRAFT_EVENTS_CACHE", "1")
    df = tables.load_table(spark, sf_dir, "events")
    assert df.count() > 0  # raw fallback served the call
    for cache_on in (True, False):  # ...but was NOT memoized
        with pytest.raises(LookupError):
            _memoized_events(spark, sf_dir, cache_on)

    # failure gone -> the very next call retries and memoizes the cache path
    monkeypatch.undo()
    monkeypatch.setenv("SPARK_GRAFT_EVENTS_CACHE", "1")
    df2 = tables.load_table(spark, sf_dir, "events")
    assert df2.count() == df.count()
    assert _memoized_events(spark, sf_dir, True) is df2
    with pytest.raises(LookupError):
        _memoized_events(spark, sf_dir, False)


def test_ensure_views_memoized_and_dir_scoped(spark, sf_dir):
    """r11: one session can hold views over several SF dirs (dir-hash
    suffix), registration is memoized, and the view serves the same rows
    as load_table."""
    v1 = tables.ensure_views(spark, sf_dir, ("region", "nation"))
    v2 = tables.ensure_views(spark, sf_dir, ("region",))
    assert v1["region"] == v2["region"]
    other = "/root/testdata/sf0.01"
    v3 = tables.ensure_views(spark, other, ("region",))
    assert v3["region"] != v1["region"]  # distinct dirs -> distinct views
    n_view = spark.sql(f"SELECT COUNT(*) AS n FROM {v1['region']}").collect()[0]["n"]
    assert n_view == tables.load_table(spark, sf_dir, "region").count()


def test_events_cache_env_toggle_in_memo_key(spark, sf_dir, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_EVENTS_CACHE", "0")
    raw = tables.load_table(spark, sf_dir, "events")
    monkeypatch.setenv("SPARK_GRAFT_EVENTS_CACHE", "1")
    cached = tables.load_table(spark, sf_dir, "events")
    # distinct memo entries per toggle value; same values either way
    assert _memoized_events(spark, sf_dir, False) is raw
    assert _memoized_events(spark, sf_dir, True) is cached
    assert raw is not cached
    assert raw.count() == cached.count()


def test_ensure_views_events_toggle_in_view_memo_key(spark, sf_dir, monkeypatch):
    """ADVICE r11: the view memo must key on the events cache toggle too —
    otherwise a temp view over 'events' pins the first-loaded frame for the
    session, reintroducing the shadowing load_table itself fixed."""
    monkeypatch.setenv("SPARK_GRAFT_EVENTS_CACHE", "1")
    v_cached = tables.ensure_views(spark, sf_dir, ("events",))["events"]
    monkeypatch.setenv("SPARK_GRAFT_EVENTS_CACHE", "0")
    v_raw = tables.ensure_views(spark, sf_dir, ("events",))["events"]
    assert v_cached != v_raw  # distinct toggle values -> distinct views
    n1 = spark.sql(f"SELECT COUNT(*) AS n FROM {v_cached}").collect()[0]["n"]
    n2 = spark.sql(f"SELECT COUNT(*) AS n FROM {v_raw}").collect()[0]["n"]
    assert n1 == n2  # same values either way
    # memoized per toggle: repeat calls return the same names
    monkeypatch.setenv("SPARK_GRAFT_EVENTS_CACHE", "1")
    assert tables.ensure_views(spark, sf_dir, ("events",))["events"] == v_cached
